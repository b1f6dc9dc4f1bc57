"""Corpus-wide line dedup (queries.q_line_dedup): keep-first semantics,
short-line passthrough, lossless rebuild, and the map-side-combine plan."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from cassandra_data_migrator_spark.queries.analytics import (
    TOKEN_BUDGET,
    q_dsir_importance,
    q_line_dedup,
    q_token_budget_select,
)


def _run(spark, rows):
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="line_dedup_fix_")
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return {r["doc_id"]: r for r in q_line_dedup(spark, d).collect()}


def test_keep_first_and_rebuild(spark):
    # 8-token lines; doc 1 and doc 2 share their first line verbatim ->
    # doc 1 (smaller doc_id) keeps it, doc 2 drops it
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    uniq = "one two three four five six seven eight"
    rows = [
        (1, f"{dup} {uniq}", "en", "s", 0),
        (2, f"{dup} nine ten eleven twelve thirteen fourteen fifteen sixteen", "en", "s", 0),
    ]
    got = _run(spark, rows)
    assert got[1]["n_lines"] == 2 and got[1]["n_dropped"] == 0
    assert got[1]["text_dedup"] == f"{dup}\n{uniq}"
    assert got[2]["n_lines"] == 2 and got[2]["n_dropped"] == 1
    assert got[2]["text_dedup"] == "nine ten eleven twelve thirteen fourteen fifteen sixteen"


def test_short_lines_never_deduped(spark):
    # identical SHORT trailing lines (< 25 chars) survive in every doc
    short = "tail end bit"
    rows = [
        (1, f"a b c d e f g h {short}", "en", "s", 0),
        (2, f"p q r s t u v w {short}", "en", "s", 0),
    ]
    got = _run(spark, rows)
    for i in (1, 2):
        assert got[i]["n_dropped"] == 0
        assert got[i]["text_dedup"].endswith(short)


def test_lossless_when_no_duplicates(spark):
    text = "one two three four five six seven eight nine ten eleven twelve"
    got = _run(spark, [(1, text, "en", "s", 0)])
    assert got[1]["n_dropped"] == 0
    # rebuild = the 8-token line + the 4-token remainder joined by newline
    assert got[1]["text_dedup"].replace("\n", " ") == text


def test_all_lines_dropped_doc_survives_empty(spark):
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, dup, "en", "s", 0), (2, dup, "en", "s", 0)]
    got = _run(spark, rows)
    assert got[2]["n_kept"] == 0 and got[2]["text_dedup"] == ""


def test_keep_first_is_partial_aggregate(spark, sf_dir):
    """The keep-first must be a map-side-combinable aggregation (two
    HashAggregate/ObjectHashAggregate nodes around the line exchange), not
    a window over skewed line partitions."""
    df = q_line_dedup(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert p.count("HashAggregate") >= 2
    assert "Window" not in p, "keep-first regressed to a window plan"


def test_token_budget_select_prefix_and_budget(spark, sf_dir):
    """Budget selection invariants on the fixture: the selected set is the
    EXACT prefix of (quality DESC, doc_id) order, its token total is the
    max prefix within budget (adding the next doc would exceed it), and
    cum_tokens is strictly increasing along the prefix."""
    rows = q_token_budget_select(spark, sf_dir).collect()
    assert rows, "budget selects nothing — fixture/budget mismatch"
    sel = sorted(rows, key=lambda r: (-r["quality"], r["doc_id"]))
    # cum_tokens strictly increasing iff every selected doc has tokens
    cums = [r["cum_tokens"] for r in sel]
    assert cums == sorted(cums)
    assert cums[-1] <= TOKEN_BUDGET
    # exact-prefix check against a driver-side recomputation of the order
    from cassandra_data_migrator_spark.functions.text import quality_features
    from cassandra_data_migrator_spark.sources.parquet import load_table

    all_rows = quality_features(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "quality"
    ).collect()
    order = sorted(all_rows, key=lambda r: (-r["quality"], r["doc_id"]))
    run, want = 0, []
    for r in order:
        run += r["n_tokens"]
        if run > TOKEN_BUDGET:
            break
        want.append((r["doc_id"], run))
    assert [(r["doc_id"], r["cum_tokens"]) for r in sel] == want


def test_full_curation_pipeline_composes(spark, sf_dir):
    """The r06 training-data story as ONE composed DataFrame chain:
    corpus-wide line dedup -> quality scoring of the REBUILT text ->
    token-budget selection over it -> deterministic epoch shuffle with
    contiguous shards. Asserts the cross-stage invariants a training
    manifest needs: selected docs are a budget-bounded subset of the
    deduped corpus, every selected doc gets exactly one position, and
    shard ranges partition the positions contiguously."""
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.functions.text import quality_features
    from cassandra_data_migrator_spark.operators.dedup import line_dedup_rebuild
    from cassandra_data_migrator_spark.operators.rank import global_index
    from cassandra_data_migrator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    deduped = line_dedup_rebuild(docs).select(
        "doc_id", F.col("text_dedup").alias("text")
    )
    scored = quality_features(deduped).select("doc_id", "n_tokens", "quality")
    # budget selection inline (the q_token_budget_select shape)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("quality").desc(), "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    budget = 8_000
    # oracle-shaped here (test scale): single running sum is fine in a test
    sel = (
        scored.withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") <= budget)
        .select("doc_id")
    )
    keyed = sel.select(
        "doc_id",
        F.md5(F.concat(F.lit("e0:"), F.col("doc_id").cast("string")).cast("binary")).alias("k"),
    )
    manifest = global_index(keyed, "k", "doc_id", pos_col="pos").withColumn(
        "shard", F.expr("CAST((pos * 4) DIV n_total AS INT)")
    )
    rows = manifest.collect()
    n = len(rows)
    assert n > 0
    # every selected doc exactly once, positions are 0..n-1
    assert sorted(r["pos"] for r in rows) == list(range(n))
    assert len({r["doc_id"] for r in rows}) == n
    # shards partition the position space contiguously
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    spans = sorted((min(v), max(v)) for v in by_shard.values())
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi + 1 == b_lo
    assert spans[0][0] == 0 and spans[-1][1] == n - 1
    # the selection respected the budget over the DEDUPED corpus
    tok = {r["doc_id"]: r["n_tokens"] for r in scored.collect()}
    assert sum(tok[r["doc_id"]] for r in rows) <= budget


def test_r07_crawl_curation_pipeline_composes(spark, sf_dir):
    """The r07 crawl-curation story as ONE composed chain: URL-level dedup
    (canonical keep-first) -> DSIR importance gate over the survivors ->
    token-balanced sharding of the kept set. Asserts the cross-stage
    invariants: URL reps are unique per canonical URL, the DSIR gate only
    ever drops (never invents) documents, and the balanced shards
    partition the kept set with near-equal token mass."""
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.functions.text import tokens
    from cassandra_data_migrator_spark.functions.urls import url_dedup
    from cassandra_data_migrator_spark.operators.rank import global_rank
    from cassandra_data_migrator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    # deterministic URL construction (the q_url_dedup fixture shape)
    url = F.concat(
        F.lit("http://crawl.example.com/p/"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("?utm_source=f&a="),
        (F.col("doc_id") % 3).cast("string"),
    )
    deduped = url_dedup(docs.withColumn("url", url))
    reps = deduped.filter("is_rep")
    # one representative per canonical URL
    assert reps.groupBy("canon_url").count().filter("count > 1").count() == 0
    # DSIR gate over the representatives only
    kept_ids = {r.doc_id for r in reps.select("doc_id").collect()}
    dsir = q_dsir_importance(spark, sf_dir).filter("keep")
    gated = dsir.join(reps.select("doc_id"), "doc_id")
    gated_ids = {r.doc_id for r in gated.select("doc_id").collect()}
    assert gated_ids <= kept_ids  # the gate only drops
    if not gated_ids:
        return  # fixture produced no positive-weight reps at this scale
    # token-balanced sharding of the gated set (the q_shard_balance shape)
    base = (
        docs.join(gated.select("doc_id"), "doc_id")
        .select("doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok"))
        .withColumn("__neg", -F.col("n_tok"))
    )
    ranked = global_rank(base, "__neg", "doc_id", pos_col="pos")
    shards = (
        ranked.withColumn("shard", F.col("pos") % 4)
        .groupBy("shard")
        .agg(F.sum("n_tok").alias("mass"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    masses = [r.mass for r in shards]
    assert sum(r.n for r in shards) == len(gated_ids)
    # round-robin-by-size-rank keeps shard masses within a tight band
    assert max(masses) - min(masses) <= max(
        r.mass for r in shards
    ) * 0.2 + 200  # slack for tiny fixtures
