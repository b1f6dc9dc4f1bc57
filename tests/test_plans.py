"""Physical-plan assertions (SURVEY.md §4.2, prompt: 'explain the plan and
iterate until it's the plan you'd want'). These lock in the scale-critical
plan properties so a refactor that silently loses pushdown/pruning/broadcast
fails CI, not the 100 TB run."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from cassandra_data_migrator_spark import queries as q


def _plan(spark, sf_dir, key, mode="formatted") -> str:
    df = q.queries()[key](spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_where_filter_pushed_to_scan(spark, sf_dir):
    p = _plan(spark, sf_dir, "where_filter")
    assert "GreaterThan(l_quantity,30.0)" in p, "filter not pushed to parquet scan"
    assert "EqualTo(l_returnflag,R)" in p


def test_scan_project_prunes_columns(spark, sf_dir):
    p = _plan(spark, sf_dir, "scan_project")
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    # only the 5 projected columns reach the scan — not all 11 lineitem cols
    assert "l_shipdate" not in read and "l_partkey" not in read
    for c in ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"):
        assert c in read


def test_validate_diff_is_single_pk_join(spark, sf_dir):
    p = _plan(spark, sf_dir, "validate_diff")
    # one join, hash-based (broadcast at this scale; SMJ acceptable at scale)
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sentiment_lexicon_broadcasts_small_dim(spark, sf_dir):
    p = _plan(spark, sf_dir, "sentiment_lexicon")
    assert "BroadcastHashJoin" in p, "small lexicon side must broadcast"


def test_topk_similarity_broadcasts_queries(spark, sf_dir):
    """The declared key reads the session-shared ground-truth table back
    from parquet (one build per session feeds the exact key and both recall
    audits), so the broadcast pin targets the BUILDER plan — the compute
    that actually materializes the artifact."""
    from cassandra_data_migrator_spark.operators import similarity
    from cassandra_data_migrator_spark.queries._shared import TOPK_K, TOPK_QUERY_PRED

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = similarity.brute_force_topk(
        emb, emb.filter(TOPK_QUERY_PRED), k=TOPK_K
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Broadcast" in p, "query vectors must broadcast (corpus never shuffles)"
    # and the declared key itself must be a plain artifact scan — no
    # recompute of the BNLJ per consumer
    key_plan = _plan(spark, sf_dir, "topk_similarity")
    assert "NestedLoop" not in key_plan and "CartesianProduct" not in key_plan


def test_training_shuffle_offsets_broadcast(spark, sf_dir):
    """global_index's bucket-offset table must reach the rows through a
    BroadcastHashJoin — an SMJ here would shuffle the full corpus a second
    time just to attach two bigints per row."""
    p = _plan(spark, sf_dir, "training_order_shuffle")
    assert "BroadcastHashJoin" in p, "bucket offsets must broadcast"
    assert "SortMergeJoin" not in p
    # the scan reads ONLY doc_id — the shuffle key is derived, not stored
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "text" not in read


def test_group_agg_partial_aggregation(spark, sf_dir):
    # two HashAggregate nodes (partial + final) around one Exchange
    p = _plan(spark, sf_dir, "group_agg")
    assert p.count("HashAggregate") >= 2, "map-side partial aggregation missing"


def _walk_jvm_plan(node):
    yield node
    for i in range(node.children().size()):
        yield from _walk_jvm_plan(node.children().apply(i))


def test_length_percentile_no_global_window_over_table(spark, sf_dir):
    """The percentile rank must be distributed: any unpartitioned Window in
    the plan may only run over pre-aggregated (bounded histogram) input,
    never over the raw table — a global-order window over the full scan is a
    single-reducer sort at 100 TB."""
    df = q.queries()["length_percentile"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan()
    unpartitioned = 0
    for node in _walk_jvm_plan(plan):
        if node.getClass().getSimpleName() == "Window" and node.partitionSpec().isEmpty():
            unpartitioned += 1
            names = [n.getClass().getSimpleName() for n in _walk_jvm_plan(node)]
            assert "Aggregate" in names, "unpartitioned Window reads the raw table"
    # the histogram cumsum is the only place an unpartitioned window appears
    assert unpartitioned <= 2
    # and the histogram joins back via broadcast, not a shuffle
    p = _plan(spark, sf_dir, "length_percentile")
    assert "BroadcastHashJoin" in p


def test_join_agg_pipeline_broadcasts_customer(spark, sf_dir):
    p = _plan(spark, sf_dir, "join_agg_pipeline")
    assert "BroadcastHashJoin" in p, "customer dim must broadcast"
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_dedup_embedding_lsh_is_equi_join(spark, sf_dir):
    """The full-corpus embedding near-dup path must bucket (equi-join on the
    LSH key), never fall back to a probe×corpus nested loop."""
    p = _plan(spark, sf_dir, "dedup_embedding_lsh")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or ("ShuffledHashJoin" in p)


def test_interval_join_is_bucketed_equi_join(spark, sf_dir):
    """The range join must run as a hash equi-join on (key, time-bucket) —
    a raw range theta-join would plan per-key quadratic comparison (or a
    BroadcastNestedLoopJoin without the key predicate)."""
    p = _plan(spark, sf_dir, "interval_join")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or ("ShuffledHashJoin" in p)


def test_decile_assign_no_global_window_over_table(spark, sf_dir):
    """operators/rank.global_rank: the only unpartitioned Window must read
    the aggregated histogram, never the raw table."""
    df = q.queries()["decile_assign"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan()
    for node in _walk_jvm_plan(plan):
        if node.getClass().getSimpleName() == "Window" and node.partitionSpec().isEmpty():
            names = [n.getClass().getSimpleName() for n in _walk_jvm_plan(node)]
            assert "Aggregate" in names, "unpartitioned Window reads the raw table"
    p = _plan(spark, sf_dir, "decile_assign")
    assert "BroadcastHashJoin" in p


def test_regional_revenue_broadcasts_dims_no_cartesian(spark, sf_dir):
    """The Q5-shaped six-table join must broadcast the nation⋈region dim and
    never degrade to a cartesian/nested-loop (the c_nationkey == s_nationkey
    constraint rides on the supplier equi-join keys)."""
    p = _plan(spark, sf_dir, "regional_revenue")
    assert "BroadcastHashJoin" in p, "nation/region dim must broadcast"
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_anomaly_zscore_broadcasts_stats(spark, sf_dir):
    """Per-user stats (one row per user) must broadcast back onto the event
    stream — the stream itself should never shuffle for the flagging join."""
    p = _plan(spark, sf_dir, "anomaly_zscore")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


# Keys whose plans deliberately contain an UNPARTITIONED Window, each bounded
# by construction (round-5 verdict #1 — the BNLJ_KEYS treatment for windows):
#   histogram: the window cumsums a value-HISTOGRAM aggregate (1 row per
#              distinct value, operators/rank.global_rank) or a per-group
#              share over a bounded-cardinality groupBy — input is bounded
#              by value/group cardinality, never row count.
#   pruned:    the window reads per-partition top-k SURVIVORS — a Filter on
#              a PARTITIONED window's local rank feeds it, so its input is
#              ≤ k × numPartitions rows (operators/rank.top_k_rows).
GLOBAL_WINDOW_KEYS = {
    "length_percentile": "histogram",  # rank.global_rank cumsum
    "decile_assign": "histogram",  # rank.global_rank cumsum
    "vocab_zipf_slope": "histogram",  # rank.global_rank over count histogram
    "training_order_shuffle": "histogram",  # rank.global_index prefix-bucket cumsum
    "token_budget_select": "histogram",  # per-quality token-histogram cumsum (4dp-bounded)
    "label_balance": "histogram",  # share over per-label agg (≤ #classes)
    "part_brand_share": "histogram",  # share over per-brand agg (≤ #brands)
    "shard_balance": "histogram",  # rank.global_rank cumsum over the length histogram
    "ccnet_bucket_mix": "histogram",  # rank.global_rank over the 4dp-bounded nll histogram
    "dsir_importance": "histogram",  # totals over the <=256-row bucket distribution
    "vocab_js_drift": "histogram",  # totals over the <=256-row bucket distribution
    "vocab_topk": "pruned",  # rank.top_k_rows
    "bm25_topk": "pruned",  # rank.top_k_rows
    "oov_rate": "pruned",  # rank.top_k_rows (vocab selection)
    "ks_drift": "histogram",  # ECDF cumsum over the <=64-bin histogram
    "nb_classifier_eval": "histogram",  # totals over the 4096-bucket weight table
    "nb_calibration": "histogram",  # same 4096-bucket weight-table window
    "quality_ensemble": "histogram",  # rank.global_rank over the 4dp-bounded score histogram
    "skipgram_cooc": "pruned",  # rank.top_k_rows over pair counts
    "curation_pipeline": "histogram",  # budget cumsum + global_rank over bounded histograms
    "sql_frontend_ds5": "histogram",  # cumulative sums over the (yr, mo)
    # month grid — bounded by the calendar span (~84 rows at any sf), the
    # TPC-DS q51 shape's own contract (input subtree is a groupBy agg)
}


def test_no_unbounded_global_windows_surface_wide(spark, sf_dir):
    """Surface-wide single-reducer guard (round-5 verdict #1): an
    unpartitioned Window funnels its whole input through ONE task, so it may
    appear only in GLOBAL_WINDOW_KEYS, and there its input subtree must show
    the bounding structure — an Aggregate (histogram/share class) or a
    partitioned-window local prune (top-k survivor class). A new key that
    sorts the raw table through one reducer fails here, not at 100 TB."""
    for key in q.queries():
        if key == "migrate_rowcount":
            continue  # writes as a side effect; plan inspected post-write
        df = q.queries()[key](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan()
        unpart = [
            n
            for n in _walk_jvm_plan(plan)
            if n.getClass().getSimpleName() == "Window" and n.partitionSpec().isEmpty()
        ]
        if key not in GLOBAL_WINDOW_KEYS:
            assert not unpart, (
                f"{key} plans an unpartitioned Window (single-reducer sort); "
                "either partition it, use operators/rank, or document it in "
                "GLOBAL_WINDOW_KEYS with its bound"
            )
            continue
        assert unpart, f"{key} listed in GLOBAL_WINDOW_KEYS but plans none"
        mode = GLOBAL_WINDOW_KEYS[key]
        for node in unpart:
            sub = []
            for i in range(node.children().size()):
                sub.extend(_walk_jvm_plan(node.children().apply(i)))
            names = [n.getClass().getSimpleName() for n in sub]
            if mode == "histogram":
                assert "Aggregate" in names, (
                    f"{key}: unpartitioned Window reads non-aggregated input"
                )
            else:  # pruned
                local = [
                    n
                    for n in sub
                    if n.getClass().getSimpleName() == "Window"
                    and not n.partitionSpec().isEmpty()
                ]
                assert local and "Filter" in names, (
                    f"{key}: unpartitioned Window lacks the partitioned-window "
                    "local-prune feeding it (top_k_rows shape)"
                )


def test_partitioned_sink_prune_partition_filter(spark, sf_dir):
    """The read-back scan must prune to the selected event_type partition —
    PartitionFilters on the scan, not a post-scan Filter over all partitions."""
    p = _plan(spark, sf_dir, "partitioned_sink_prune")
    assert "PartitionFilters" in p
    scan_lines = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert any("event_type" in l and "click" in l for l in scan_lines), (
        "event_type=click not in PartitionFilters — scan reads every partition"
    )


def test_bm25_window_only_over_scored_candidates(spark, sf_dir):
    """bm25_topk's global top-k window may only read the per-doc aggregated
    candidate scores (posting-list union), never the raw token stream."""
    df = q.queries()["bm25_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan()
    for node in _walk_jvm_plan(plan):
        if node.getClass().getSimpleName() == "Window" and node.partitionSpec().isEmpty():
            names = [n.getClass().getSimpleName() for n in _walk_jvm_plan(node)]
            assert "Aggregate" in names, "unpartitioned Window reads the raw token stream"
    p = _plan(spark, sf_dir, "bm25_topk")
    assert "CartesianProduct" not in p  # stats ride a broadcast nested-loop 1-row join


def test_oov_vocab_broadcasts(spark, sf_dir):
    """The top-N vocabulary must broadcast back onto the token stream — the
    stream itself never shuffles for the tagging join."""
    p = _plan(spark, sf_dir, "oov_rate")
    assert "BroadcastHashJoin" in p
    df = q.queries()["oov_rate"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan()
    for node in _walk_jvm_plan(plan):
        if node.getClass().getSimpleName() == "Window" and node.partitionSpec().isEmpty():
            names = [n.getClass().getSimpleName() for n in _walk_jvm_plan(node)]
            assert "Aggregate" in names, "vocab window reads the raw token stream"


def test_salted_join_is_equi_join_on_key_and_salt(spark, sf_dir):
    """The salted join must stay a hash equi-join over (key, salt) — no
    cartesian/nested-loop, and both join keys present in the join node."""
    p = _plan(spark, sf_dir, "salted_join")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or ("ShuffledHashJoin" in p)
    key_lines = [
        l for l in p.splitlines() if l.strip().startswith(("Left keys", "Right keys"))
    ]
    assert key_lines and all("salt" in l for l in key_lines), (
        "salt column missing from the join keys"
    )


def test_validate_diff_composite_single_join(spark, sf_dir):
    p = _plan(spark, sf_dir, "validate_diff_composite")
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_cdc_delta_full_outer_is_hash_join(spark, sf_dir):
    """The CDC snapshot diff must run as a co-partitioned hash join (full
    outer forces SMJ/SHJ — broadcast can't do full outer), never a
    cartesian/nested-loop."""
    p = _plan(spark, sf_dir, "cdc_delta_detect")
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_kmeans_assign_no_shuffle(spark, sf_dir):
    """Assignment under fixed centroids is a literal-argmin projection over
    the scan — the corpus must never shuffle (0 exchanges)."""
    p = _plan(spark, sf_dir, "kmeans_assign", mode="simple")
    assert "Exchange" not in p, "kmeans_assign shuffles the corpus"


def test_ttl_expiry_no_shuffle(spark, sf_dir):
    p = _plan(spark, sf_dir, "ttl_expiry", mode="simple")
    assert "Exchange" not in p, "ttl_expiry should be a pure scan projection+filter"


def test_gopher_rules_no_shuffle(spark, sf_dir):
    """The Gopher rule projection is one tokenize over the scan — zero
    shuffles, zero Python."""
    p = _plan(spark, sf_dir, "gopher_rules", mode="simple")
    assert "Exchange" not in p, "gopher_rules shuffles the corpus"
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p


def test_multimodal_decoders_no_shuffle(spark, sf_dir):
    """Both real-decode keys are scan → JVM payload build → ONE Arrow
    kernel → projection: the corpus never shuffles, and payload bytes
    enter Python exactly once."""
    for key in ("multimodal_decode", "multimodal_audio", "multimodal_video",
                "multimodal_resize"):
        p = _plan(spark, sf_dir, key, mode="simple")
        assert "Exchange" not in p, f"{key} shuffles the corpus"
        assert p.count("MapInPandas") == 1, f"{key} should have exactly one kernel"
    # the PNG roundtrip key is a two-kernel pipeline (encode → decode),
    # shuffle-free: the kernels fuse in one stage
    p = _plan(spark, sf_dir, "multimodal_png", mode="simple")
    assert "Exchange" not in p, "multimodal_png shuffles the corpus"
    assert p.count("MapInPandas") == 2, "multimodal_png should have two kernels"
    # the JPEG keys (r09) deliberately spend ONE round-robin exchange of
    # the tiny (media_id, blocks) rows before the CPU-bound huffman
    # kernels: the one-file fixture scan is a single task, and without the
    # spread the kernels run serial (measured 5.1->1.9 s gray, 6.7->1.8 s
    # color). Exactly one exchange, round-robin (never a hash shuffle of
    # payload bytes), still two fused kernels.
    for key in ("multimodal_jpeg", "multimodal_jpeg_color", "multimodal_jpeg_420"):
        p = _plan(spark, sf_dir, key, mode="simple")
        assert p.count("Exchange") == 1, f"{key}: expected exactly 1 exchange"
        assert "RoundRobinPartitioning" in p or "roundrobin" in p.lower(), (
            f"{key}: the one exchange must be the declared round-robin spread"
        )
        assert p.count("MapInPandas") == 2, f"{key} should have exactly two kernels"


def test_rolling_hash_chunks_single_exchange(spark, sf_dir):
    """The per-doc boundary window and the chunk groupBy must REUSE one hash
    partitioning by doc — two exchanges would mean the window and the
    aggregation each shuffle the exploded token stream separately."""
    p = _plan(spark, sf_dir, "rolling_hash_chunks", mode="simple")
    assert p.count("Exchange") == 1, f"expected exactly 1 exchange:\n{p}"


def test_partition_skew_stats_takeordered_no_global_sort(spark, sf_dir):
    """Top-N must be a TakeOrdered (driver-side heap over partition heads),
    never a global Sort shuffle; the mean must ride a broadcast."""
    p = _plan(spark, sf_dir, "partition_skew_stats", mode="simple")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastExchange" in p


def test_sql_frontend_q5_no_cartesian(spark, sf_dir):
    p = _plan(spark, sf_dir, "sql_frontend_q5", mode="simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sql_frontend_ds_batch2_plans(spark, sf_dir):
    """ds6-ds9 stay equi-join only; ds10's OR-of-EXISTS must plan as
    ExistenceJoin (the physical shape the key exists to exercise), never
    a cartesian fallback."""
    for key in ("sql_frontend_ds6", "sql_frontend_ds7",
                "sql_frontend_ds8", "sql_frontend_ds9"):
        p = _plan(spark, sf_dir, key, mode="simple")
        assert "CartesianProduct" not in p, key
        assert "BroadcastNestedLoopJoin" not in p, key
    p = _plan(spark, sf_dir, "sql_frontend_ds10", mode="simple")
    assert "ExistenceJoin" in p, "OR-of-EXISTS lost its ExistenceJoin plan"
    assert "CartesianProduct" not in p


# Keys deliberately using Arrow-VECTORIZED Python (pandas_udf GEMM for dense
# band signatures — interpreted Catalyst lambdas measured 7× slower — and the
# mapInPandas multimodal digest). Row-at-a-time BatchEvalPython is banned
# everywhere; ArrowEvalPython/MapInPandas may appear ONLY here.
ARROW_PYTHON_KEYS = {
    "topk_similarity_lsh_banded",
    "ann_recall_audit",
    "ann_recall_clustered",  # banded-LSH Arrow GEMM signatures on the clustered fixture
    "multimodal_extract",
    "kmeans_clusters",  # assignment kernel (cluster.assign_clusters_arrow)
    "semantic_dedup",  # per-cluster GEMM (cluster.semdedup_pruned_ids)
    "bpe_token_count",  # per-word-TYPE segmentation kernel (functions/bpe.py)
    "bpe_apply_audit",  # same kernel under the fixture merge table
    "multimodal_decode",  # real PPM parse kernel (multimodal.ppm_stats)
    "multimodal_audio",  # real WAV RIFF parse kernel (multimodal.wav_stats)
    "multimodal_video",  # real Y4M container parse kernel (multimodal.y4m_stats)
    "multimodal_resize",  # real box-filter downsample kernel (multimodal.ppm_resize_stats)
    "multimodal_png",  # real PNG deflate+inflate kernels (multimodal.png_encode_rgb/png_stats)
    "multimodal_jpeg",  # real baseline-JPEG encode+decode kernels (multimodal.jpeg_encode_gray/jpeg_stats)
    "multimodal_jpeg_color",  # real 3-component JPEG kernels (multimodal.jpeg_encode_color/jpeg_color_stats)
    "multimodal_jpeg_420",  # real 4:2:0 subsampled JPEG kernels (multimodal.jpeg_encode_color_420/jpeg_color_stats)
    "multimodal_jpeg_rst",  # real DRI/RSTn restart-interval JPEG encode+decode kernels (multimodal.jpeg_encode_gray_rst/jpeg_stats)
    "warc_ingest",  # real Content-Length-framed WARC record parse kernel (sources/warc.warc_records)
    "warc_charset_extract",  # charset-sniffing decode kernel (sources/warc.warc_decoded_pages)
    "warc_revisit_stats",  # typed record kernel (sources/warc.warc_typed_records)
    "warc_wet_roundtrip",  # WET re-ingest through the record kernel
    "warc_wat_roundtrip",  # WAT re-ingest through the record kernel (payload)
    "crawl_curation_pipeline",  # decode kernel front door of the curation chain
    "warc_gzip_ingest",  # gzip-member split + record parse kernels (sources/warc.warc_gzip_records)
    "multimodal_jpeg_progressive",  # real SOF2 five-scan encode+decode kernels (multimodal.jpeg_encode_gray_progressive/jpeg_stats)
    "multimodal_exif",  # real Exif/TIFF IFD build+parse kernels (multimodal.jpeg_exif_encode/jpeg_exif_stats)
    "seq_align_diff",  # cogroup sequence-alignment kernel (align.sequence_align_diff — Jaro-Winkler has no JVM builtin)
    "codec_vector",  # CQL vector wire codec kernel (multimodal.cql_vector_roundtrip — IEEE bit-casts have no JVM expression)
    "dhash_near_dup",  # perceptual difference-hash kernel (multimodal.ppm_dhash)
    "dhash_banded_near_dup",  # same kernel feeding the banded-Hamming join
    "sq8_recall_audit",  # r12: bit-identical Arrow unit-normalizer + encode/dequantize kernels (vectors.unit_udf_factory, ann_pq._sq8_recon_udf_factory)
    "sq8_recall_clustered",  # same kernel on the clustered fixture
    "kmeans_assign",  # r12: bit-identical Arrow exact-decimal argmin (cluster.assign_clusters_exact_arrow)
    "dedup_embedding_lsh",  # r12: bit-identical Arrow banded-sig/norm kernel (similarity._bucket_sig_norm_arrow)
    "jl_projection_audit",  # r12: bit-identical Arrow decimal-fold projection (ann_pq._jl_project_udf_factory)
}


def test_no_python_udfs_in_declared_surface(spark, sf_dir):
    """Every declared query stays JVM-side (BatchEvalPython in a plan would
    mean a row-at-a-time Python UDF snuck into the hot path); Arrow-batched
    Python appears only in the declared ARROW_PYTHON_KEYS."""
    for key in q.queries():
        if key == "migrate_rowcount":
            continue  # writes as a side effect; plan inspected post-write
        p = _plan(spark, sf_dir, key, mode="simple")
        assert "BatchEvalPython" not in p, f"{key} uses a row-at-a-time Python UDF"
        if key not in ARROW_PYTHON_KEYS:
            assert (
                "ArrowEvalPython" not in p
                and "MapInPandas" not in p
                and "FlatMapGroupsInPandas" not in p
                and "FlatMapCoGroupsInPandas" not in p
            ), f"{key} unexpectedly runs Python (not in ARROW_PYTHON_KEYS)"


# Keys whose plans deliberately contain a BroadcastNestedLoopJoin. Two legal
# classes (round-4 verdict #6), each bounded by construction:
#   probe: the exact brute-force similarity paths — a bounded probe/query set
#          broadcast against the corpus (the corpus itself never shuffles);
#          their scale twins (lsh/banded/ivf/bucketed) are the 100 TB route.
#   total: a 1-row (or k-row) broadcast aggregate crossJoined back onto the
#          data (corpus-level counts/means); build side is a scalar, not a
#          table.
BNLJ_KEYS = {
    "topk_similarity": "probe",  # brute_force_topk (similarity.py)
    "dedup_embedding": "probe",  # cosine_near_dup exact pair path
    "ann_recall_audit": "probe",  # audits run the exact path by design
    "ivf_recall_audit": "probe",
    "ann_recall_clustered": "probe",  # clustered twins: same exact ground-truth path
    "ivf_recall_clustered": "probe",
    "simhash_recall_audit": "probe",
    "minhash_recall_audit": "probe",
    "bigram_pmi": "total",  # unigram/bigram grand totals
    "tfidf": "total",  # corpus doc count
    "bm25_topk": "total",  # corpus doc count + avg doclen
    "json_key_profile": "total",  # total-docs denominator
    "ref_integrity_audit": "total",  # per-rule totals
    "partition_skew_stats": "total",  # mean-slice-size broadcast
    "unigram_logprob": "total",  # corpus token total
    "time_gap_fill": "total",  # global time bounds
    "lm_perplexity": "total",  # 1-row vocab-size broadcast
    "ccnet_bucket_mix": "total",  # composes lm_perplexity (same 1-row vocab broadcast)
    "shard_balance": "total",  # 1-row corpus-token-total broadcast onto 8 shard rows
    "heavy_hitters_audit": "total",  # 1-row corpus-count broadcast
    "jsonl_quarantine": "total",  # two 1-row checksum aggs crossJoined
    "file_compaction": "total",  # three 1-row layout-stat aggs crossJoined
    "temperature_mix": "total",  # 1-row max-weight broadcast for rate normalization
    "zorder_prune_audit": "total",  # 1-row range-bounds + two 1-row touch counts
    "bloom_prefilter_audit": "total",  # 1-row broadcast bloom word array
    "ks_drift": "total",  # 1-row min/max value-bounds broadcast
    "nb_classifier_eval": "total",  # 1-row trained log-prior broadcast
    "nb_calibration": "total",  # 1-row prior + score-bounds broadcasts
    "jl_projection_audit": "probe",  # bounded probe x sample pair set + 16-row matrix
    "quality_ensemble": "total",  # 1-row decimal-exact moments broadcast
    "kn_perplexity": "total",  # 1-row bigram-type-count broadcast
    "kn_holdout_perplexity": "total",  # 1-row type+vocab totals broadcast
    "bloom_corpus_dedup": "total",  # 1-row broadcast bloom word array
    "pq_recall_audit": "probe",  # broadcast LUT-table probe join + 1-row hit carry
    "pq_recall_clustered": "probe",  # broadcast LUT-table probe join + 1-row hit carry
    "pq_ivf_recall_audit": "total",  # scoring join is equi on cell; 1-row hit carry
    "pq_ivf_recall_clustered": "total",  # scoring join is equi on cell; 1-row hit carry
    "curation_pipeline": "total",  # 1-row z-moments + shard-total broadcasts
    "ivfadc_residual_recall_audit": "total",  # cell equi-join; 1-row hit carry
    "ivfadc_residual_recall_clustered": "total",  # cell equi-join; 1-row hit carry
    "sql_frontend_ds14": "total",  # q88 shape: eight 1-row aggregates crossJoined
    "sq8_recall_audit": "probe",  # 1-row bounds broadcast + bounded-probe scoring
    "sq8_recall_clustered": "probe",  # same (clustered fixture)
    "scd2_history": "total",  # 3-row version table broadcast onto the dim keys
}


def test_no_unexpected_nested_loop_joins(spark, sf_dir):
    """Join-strategy guard over the whole declared surface: CartesianProduct
    never appears anywhere, and BroadcastNestedLoopJoin appears only in the
    documented BNLJ_KEYS (probe-bounded exact paths and 1-row broadcast
    totals). A new key that accidentally cross-joins two tables — or an
    equi-join that degrades to a nested loop because its keys stopped being
    equality predicates — fails here, not on the 100 TB run."""
    for key in q.queries():
        if key == "migrate_rowcount":
            continue  # writes as a side effect; plan inspected post-write
        p = _plan(spark, sf_dir, key, mode="simple")
        assert "CartesianProduct" not in p, f"{key} plans a CartesianProduct"
        if key not in BNLJ_KEYS:
            assert "BroadcastNestedLoopJoin" not in p, (
                f"{key} plans a BroadcastNestedLoopJoin (not in BNLJ_KEYS; "
                "either fix the join or document the bounded build side)"
            )


def test_validate_profile_drift_aggregate_only(spark, sf_dir):
    """The screening validation must stay aggregate-shaped: two scans
    collapsing to single-row profiles, the 7-row metric join broadcast —
    never a row-level SortMergeJoin of the tables themselves (that is
    validate_diff's job)."""
    p = _plan(spark, sf_dir, "validate_profile_drift", mode="simple")
    assert "SortMergeJoin" not in p, "profile drift row-joins the tables"
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 4  # partial+final per side


def test_validate_diff_sampled_filters_before_join(spark, sf_dir):
    """The mod-10 sample must restrict BOTH join inputs pre-shuffle — the
    whole point of the tier-2 sampled diff is that the co-partition
    exchange moves 1/MOD of each side, not the full tables."""
    p = _plan(spark, sf_dir, "validate_diff_sampled", mode="simple")
    assert p.count("% 10") >= 2, f"sample filter not on both sides:\n{p}"


def test_pq_adc_plan_query_count_invariant(spark, sf_dir):
    """The r08 verdict's scale-killer: ADC must be DATA, not code. The old
    shape collected each probe query and baked its 16x8 LUT in as literals
    chained with unionByName — O(#queries) Catalyst branches, which blows
    plan compilation at real serving query counts. The rebuilt path joins a
    broadcast LUT-carrying query table to the encoded index with ONE fixed
    scoring expression, so the plan must be structurally IDENTICAL whether
    5 or 50 queries probe it (only the filter literal differs)."""
    from cassandra_data_migrator_spark.queries._shared import _t
    from cassandra_data_migrator_spark.queries.ann_pq import PQ_RECALL_MIN, _pq_audit
    from cassandra_data_migrator_spark.queries.dedup_text import (
        _brute_topk,
        _ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    brute = _brute_topk(spark, sf_dir).select("query_id", "vec_id")
    cents = _ivf_centroids(spark, sf_dir)

    def plan_nodes(pred, nprobe):
        df = _pq_audit(
            spark, emb, brute, PQ_RECALL_MIN, f"pq|{sf_dir}", cents,
            nprobe=nprobe, query_pred=pred,
        )
        plan = df._jdf.queryExecution().optimizedPlan()
        # the node-CLASS sequence is the structure; literals (the filter
        # bound) and expression ids are invisible to it
        return [n.getClass().getSimpleName() for n in _walk_jvm_plan(plan)]

    for nprobe in (None, 2):
        p5 = plan_nodes("vec_id < 5", nprobe)
        p50 = plan_nodes("vec_id < 50", nprobe)
        assert "Union" not in p5, "per-query union branches crept back in"
        assert p5 == p50, (
            "ADC plan structure varies with query count (nprobe=%s):\n%s\nvs\n%s"
            % (nprobe, p5, p50)
        )


def test_pq_ivf_scoring_join_is_cell_equi_join(spark, sf_dir):
    """IVFADC's scoring join must be a hash equi-join on the probed cell —
    the 100 TB contract is that only probed cells are scanned/scored, never
    a nested loop of index x queries (that is plain PQ's bounded-probe
    shape). The only BroadcastNestedLoopJoin allowed in the plan is the
    1-row hit-count carry."""
    for key in ("pq_ivf_recall_audit", "ivfadc_residual_recall_audit"):
        p = _plan(spark, sf_dir, key, mode="simple")
        assert "BroadcastHashJoin [cell" in p, f"{key}: cell equi-join missing"
        assert "Union" not in p, f"{key}: per-query branches crept back in"
        # allowed BNLJs: the 1-row hit-count carry + the query x codebook
        # LUT build (128-row broadcast build side)
        assert p.count("BroadcastNestedLoopJoin") <= 2, key


def test_curation_pipeline_scan_discipline(spark, sf_dir):
    """The composition key's returned plan must read the materialized
    survivor artifact, never re-scan the documents fixture — the
    stage-boundary checkpoint is the declared scan discipline (without
    it, every downstream self-reference replays the gating windows and
    the bloom probe)."""
    p = _plan(spark, sf_dir, "curation_pipeline", mode="simple")
    assert "documents.parquet" not in p, "final plan re-scans documents"
    assert "curation_surv" in p, "final plan does not read the artifact"
