"""Empty-input robustness: every operator family must degrade to an empty
(or well-defined aggregate) result on zero rows — at 100 TB, empty slices,
fully-filtered partitions, and empty resume sets are routine, and an
operator that throws on them kills the job."""

import pytest
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.operators import dedup, similarity, transforms, validation
from cassandra_data_migrator_spark.operators.asof import asof_join
from cassandra_data_migrator_spark.operators.rank import global_rank
from cassandra_data_migrator_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def empty_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").filter(F.lit(False))


@pytest.fixture(scope="module")
def empty_events(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.filter(F.lit(False))


def test_dedup_exact_empty(empty_docs):
    assert dedup.dedup_exact(empty_docs).count() == 0


def test_ngram_pairs_empty(empty_docs):
    assert dedup.ngram_jaccard_pairs(empty_docs, n=3, threshold=0.5).count() == 0


def test_simhash_empty(empty_docs):
    assert dedup.simhash(empty_docs).count() == 0


def test_dedup_clusters_empty_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(10)
    pairs = spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")
    out = dedup.dedup_clusters(docs, pairs)
    # no edges ⇒ every doc is its own singleton cluster
    assert out.filter(F.col("doc_id") != F.col("cluster_id")).count() == 0
    assert out.count() == 10


def test_global_rank_empty(empty_docs):
    assert global_rank(empty_docs.select("doc_id", "n_chars"), "n_chars", "doc_id").count() == 0


def test_asof_join_empty_right(spark, sf_dir, empty_events):
    e = load_table(spark, sf_dir, "events")
    trades = e.filter(F.col("event_id") % 2 == 1).select("user_id", "event_id", "ts_us").limit(100)
    quotes = empty_events.select(
        "user_id", "ts_us", F.col("event_id").alias("q_id"), F.col("value").alias("q_value")
    )
    out = asof_join(trades, quotes, ["user_id"], "ts_us", ["q_id", "q_value"], how="left")
    # left as-of join with no right side: all left rows survive, payload null
    assert out.count() == 100
    assert out.filter(F.col("rv_q_id").isNotNull()).count() == 0


def test_validation_diff_empty_target(spark, sf_dir, empty_events):
    origin = load_table(spark, sf_dir, "events").limit(50)
    report = validation.diff(origin, empty_events, ["event_id"], ["value", "event_type"])
    # every origin row is missing from an empty target
    assert report.filter(F.col("status") == validation.STATUS_MISSING).count() == 50


def test_where_filter_all_rows_filtered(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    out = transforms.where_filter(li, "l_quantity > 1e18")
    assert out.count() == 0


def test_content_chunks_empty(empty_docs):
    from cassandra_data_migrator_spark.operators.dedup import content_defined_chunks

    assert content_defined_chunks(empty_docs).count() == 0


def test_partition_guardrails_empty(empty_events):
    from cassandra_data_migrator_spark.operators.guardrail import (
        partition_key_stats,
        partition_rows_guardrail,
    )

    payload = F.octet_length("event_type").cast("bigint")
    assert partition_rows_guardrail(empty_events, ["user_id"], payload, 1, 1).count() == 0
    assert partition_key_stats(empty_events, ["user_id"], payload, top_n=5).count() == 0


def test_assign_clusters_exact_empty(spark):
    from cassandra_data_migrator_spark.operators.cluster import assign_clusters_exact

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = assign_clusters_exact(df, [(0, [0.0, 0.0])], "embedding")
    assert out.count() == 0


def test_sketch_audits_empty(empty_events):
    from cassandra_data_migrator_spark.operators import sketches

    assert (
        sketches.hll_distinct_audit(
            empty_events, "event_type", "user_id", "event_id"
        ).count()
        == 0
    )
    assert (
        sketches.quantile_sketch_audit(empty_events, "event_type", "value").count()
        == 0
    )
    assert (
        sketches.heavy_hitter_audit(empty_events, "user_id", "event_id", 0.1).count()
        == 0
    )


def test_jsonl_empty_write_read(spark, empty_docs, tmp_path):
    from cassandra_data_migrator_spark.sources import jsonl

    path = str(tmp_path / "empty_jsonl")
    jsonl.write_jsonl(empty_docs.select("doc_id", "text"), path)
    good, bad = jsonl.split_quarantine(
        jsonl.read_jsonl(spark, path, "doc_id BIGINT, text STRING")
    )
    assert good.count() == 0 and bad.count() == 0


def test_compact_empty_source(spark, empty_events, tmp_path):
    from cassandra_data_migrator_spark.sources import layout

    src, dst = str(tmp_path / "esrc"), str(tmp_path / "edst")
    empty_events.select("event_id").write.parquet(src)
    k = layout.compact(spark, src, dst, target_rows=100)
    assert k == 1  # floor: one (empty) target layout, never zero
    assert spark.read.parquet(dst).count() == 0


def test_top_k_rows_empty_and_k_exceeds_input(spark, empty_docs):
    from cassandra_data_migrator_spark.operators.rank import top_k_rows

    assert (
        top_k_rows(
            empty_docs.select("doc_id", "n_chars"),
            5,
            [F.col("n_chars").desc(), F.col("doc_id")],
            rank_col="rnk",
        ).count()
        == 0
    )
    # k larger than the input returns every row, exactly ranked
    df = spark.createDataFrame([(1, 10), (2, 20)], "id BIGINT, v BIGINT")
    got = sorted(
        (r.id, r.rnk)
        for r in top_k_rows(
            df, 100, [F.col("v").desc(), F.col("id")], rank_col="rnk"
        ).collect()
    )
    assert got == [(1, 2), (2, 1)]


def test_ppm_and_wav_kernels_empty_input(spark):
    from cassandra_data_migrator_spark.operators.multimodal import (
        ppm_stats,
        wav_stats,
    )

    empty = spark.createDataFrame([], "media_id LONG, payload BINARY")
    assert ppm_stats(empty).count() == 0
    assert wav_stats(empty).count() == 0


def test_arrow_map_empty_batches(spark):
    """A splitter that finds no records yields an EMPTY pandas batch from a
    non-empty partition; the adapter's typed columns must still convert."""
    from cassandra_data_migrator_spark.sources.warc import warc_records

    files = spark.createDataFrame([(bytearray(),), (bytearray(),)], "content BINARY")
    assert warc_records(files).collect() == []


def test_incremental_dedup_empty_batch_and_empty_corpus(spark, sf_dir, empty_docs):
    d = load_table(spark, sf_dir, "documents").limit(20)
    assert dedup.incremental_jaccard_pairs(empty_docs, d, n=3, threshold=0.2).count() == 0
    assert dedup.incremental_jaccard_pairs(d, empty_docs, n=3, threshold=0.2).count() == 0


def test_profile_drift_empty_inputs(spark):
    """Empty origin AND target: the screen must return the full metric set
    with zero counts and no drift — never crash on min/max over nothing."""
    from cassandra_data_migrator_spark.operators.validation import profile_drift

    schema = "k BIGINT, c STRING, v DOUBLE, s STRING"
    empty = spark.createDataFrame([], schema)
    rows = {
        r.metric: r
        for r in profile_drift(
            empty, empty, null_cols=["c"], sum_col="v", distinct_col="s"
        ).collect()
    }
    assert set(rows) == {"n_rows", "null_c", "sum_v", "min_v", "max_v", "nd_s"}
    assert all(r.drift == 0 for r in rows.values())
    assert rows["n_rows"].origin_v == 0.0 and rows["nd_s"].target_v == 0.0


def test_profile_drift_flags_one_sided_null_aggregates(spark):
    """A column wiped to all-NULL on the target side makes min/max/sum NULL
    there while the origin has values — that IS drift and must flag 1 (a
    plain != comparison silently returns NULL here; the r06 fix uses
    null-safe inequality)."""
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.operators.validation import profile_drift

    schema = "k BIGINT, c STRING, v DOUBLE, s STRING"
    origin = spark.createDataFrame([(1, "a", 1.0, "x"), (2, "b", 2.0, "y")], schema)
    wiped = origin.withColumn("v", F.lit(None).cast("double"))
    rows = {
        r.metric: r
        for r in profile_drift(
            origin, wiped, null_cols=["c"], sum_col="v", distinct_col="s"
        ).collect()
    }
    for m in ("sum_v", "min_v", "max_v"):
        assert rows[m].target_v is None and rows[m].drift == 1
    assert rows["n_rows"].drift == 0 and rows["nd_s"].drift == 0


def test_global_index_empty(empty_docs):
    from cassandra_data_migrator_spark.operators.rank import global_index
    from pyspark.sql import functions as F

    keyed = empty_docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string").cast("binary")).alias("k")
    )
    assert global_index(keyed, "k", "doc_id").count() == 0
