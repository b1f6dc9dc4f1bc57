"""Z-order layout operator + audit invariants (sources/layout.py,
queries.q_zorder_prune_audit).

The oracle pins exact values against DuckDB; these tests pin the
properties the oracle cannot express as a hash match: the Morton formula
itself (vs a pure-python bit interleave), the layout claim (z never
touches MORE buckets than linear for the pinned time-band box), and the
write path's actual directory-level pruning payoff.
"""

from pyspark.sql import functions as F

from cassandra_data_migrator_spark.queries.late_keys import (
    ZORDER_BOX_Y,
    q_zorder_prune_audit,
)
from cassandra_data_migrator_spark.sources import layout


def _py_morton(x: int, y: int, bits: int) -> int:
    v = 0
    for i in range(bits):
        v |= ((x >> i) & 1) << (2 * i + 1)
        v |= ((y >> i) & 1) << (2 * i)
    return v


def test_zorder_sql_matches_python_interleave(spark):
    """The portable arithmetic expansion must equal the bit-twiddled
    reference for every corner and a diagonal sweep of the 8-bit grid."""
    pts = [(0, 0), (255, 255), (255, 0), (0, 255), (1, 2), (170, 85)] + [
        (i, 255 - i) for i in range(0, 256, 17)
    ]
    df = spark.createDataFrame(pts, "xs INT, ys INT")
    got = df.select(
        "xs", "ys", F.expr(layout.zorder_sql("xs", "ys", "div")).alias("zv")
    ).collect()
    for r in got:
        assert r["zv"] == _py_morton(r["xs"], r["ys"], layout.ZORDER_BITS), (
            r["xs"], r["ys"],
        )


def test_zorder_partitioned_write_prunes_directories(spark, sf_dir, tmp_path):
    """The audit's claim executed for real via the write operator: events
    written with layout.write_zordered, touched-bucket list derived from
    the bucket-stats table, and the time-band read (1) plans a partition
    filter and (2) physically reads only the touched buckets' files —
    directory-listing level pruning, the 100 TB 'bucket = file' payoff."""
    from cassandra_data_migrator_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "events").select("user_id", "ts_us")
    path = str(tmp_path / "zclustered")
    layout.write_zordered(e, "user_id", "ts_us", path)

    r = spark.read.parquet(path)
    y_lo, y_hi = ZORDER_BOX_Y
    stats = r.groupBy("bkt").agg(F.min("ys").alias("mn"), F.max("ys").alias("mx"))
    touched = sorted(
        row["bkt"] for row in stats.filter(
            (F.col("mx") >= y_lo) & (F.col("mn") <= y_hi)
        ).collect()
    )
    total = stats.count()
    assert len(touched) < total  # the layout actually prunes

    pruned = r.filter(F.col("bkt").isin(touched)).filter(
        (F.col("ys") >= y_lo) & (F.col("ys") <= y_hi)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bkt" in plan
    files_read = (
        pruned.select(F.input_file_name().alias("f")).distinct().count()
    )
    all_files = r.select(F.input_file_name().alias("f")).distinct().count()
    assert files_read < all_files
    # row-for-row identical to the unpruned filter (pruning loses nothing:
    # bucket stats are conservative bounds)
    assert pruned.count() == r.filter(
        (F.col("ys") >= y_lo) & (F.col("ys") <= y_hi)
    ).count()


def test_zorder_write_preserves_rows(spark, sf_dir, tmp_path):
    """write_zordered is a LAYOUT change only: every (user_id, ts_us) row
    survives with its original values."""
    from cassandra_data_migrator_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "events").select("user_id", "ts_us")
    path = str(tmp_path / "zroundtrip")
    layout.write_zordered(e, "user_id", "ts_us", path)
    back = spark.read.parquet(path).select("user_id", "ts_us")
    assert back.count() == e.count()
    assert back.exceptAll(e).count() == 0
    assert e.exceptAll(back).count() == 0


def test_zorder_prunes_on_fixture(spark, sf_dir):
    row = q_zorder_prune_audit(spark, sf_dir).collect()[0]
    assert row["z_buckets_touched"] <= row["lin_buckets_touched"]
    # the box covers 1/4 of the y range: the 4x4 z grid confines it to
    # one y-stripe (4 buckets) while the x-linear layout scatters it
    assert row["z_buckets_touched"] <= layout.ZORDER_BUCKETS // 2
    assert row["prune_gain_r4"] >= 2.0
