"""Exact substring-duplication profile (queries.q_substring_dedup_spans).

The oracle pins the numbers; these tests pin the SEMANTIC claims on
hand-built docs: unaligned (chunk-boundary-straddling) repeats are
caught, within-doc repeats count, and unique text reports zero.
"""

from pyspark.sql import functions as F

from cassandra_data_migrator_spark.queries.late_keys import SUBSTR_DEDUP_LEN

L = SUBSTR_DEDUP_LEN


def _run(spark, rows):
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    # same pipeline as the key, inlined over a synthetic frame
    from pyspark.sql import Window

    d = df.filter(F.length("text") >= L)
    pos = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - L + 1)).alias("p"),
        "text",
    ).select("doc_id", F.expr(f"substr(text, p, {L})").alias("gram"))
    w = Window.partitionBy("gram")
    tagged = pos.withColumn("cnt", F.count(F.lit(1)).over(w))
    dup = F.sum((F.col("cnt") > 1).cast("bigint"))
    out = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        dup.cast("bigint").alias("n_dup_grams"),
    )
    return {r["doc_id"]: (r["n_grams"], r["n_dup_grams"]) for r in out.collect()}


def test_unaligned_cross_doc_repeat_is_caught(spark):
    """A shared span placed at DIFFERENT offsets in two docs — invisible
    to stride-aligned chunk hashing, caught by every-position grams."""
    shared = "x" * 10 + "the quick brown fox jumps over the lazy dog" + "y" * 10
    a = "A" * 7 + shared + "B" * 30
    b = "C" * 19 + shared + "D" * 30  # offset differs by 12 (not stride-aligned)
    got = _run(spark, [(1, a), (2, b)])
    assert got[1][1] > 0 and got[2][1] > 0


def test_unique_text_reports_zero(spark):
    import string

    # 62 DISTINCT chars once: every 40-gram is unique (a periodic string
    # like base*3 would self-repeat its grams)
    base = string.ascii_letters + string.digits
    got = _run(spark, [(1, base), (2, base[::-1])])
    assert got[1][1] == 0 and got[2][1] == 0


def test_within_doc_repeat_counts(spark):
    doc = ("repeat this exact sentence forty characters! " * 2) + "unique tail here"
    got = _run(spark, [(1, doc)])
    assert got[1][1] > 0  # the self-repeat alone flags positions


def test_short_docs_excluded(spark):
    got = _run(spark, [(1, "too short"), (2, "z" * (L + 5))])
    assert 1 not in got
    assert got[2][0] == 6  # n - L + 1 positions
