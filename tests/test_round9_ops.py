"""Round-9 operator semantics the oracle-parity sweep can't see.

agg_incremental_merge's green key proves merged == full recompute; these
pin WHY it holds (exclusive boundary, pushed delta predicate) and that the
merge is actually sensitive to getting those wrong.
"""

from pyspark.sql import functions as F

from cassandra_data_migrator_spark.queries._shared import _t
from cassandra_data_migrator_spark.queries.analytics import SCD2_DATES, q_scd2_history
from cassandra_data_migrator_spark.queries.dedup_text import (
    AGG_MV_CUTOFF,
    q_agg_incremental_merge,
)


def _partial(o, pred):
    price = F.col("o_totalprice").cast("decimal(18,4)")
    return o.filter(pred).groupBy(
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.col("o_orderpriority"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(price).cast("decimal(18,4)").alias("sum_price"),
    )


def test_agg_merge_overlapping_boundary_double_counts(spark, sf_dir):
    """RED PATH: merging history(< cutoff) with a delta that re-includes
    the boundary day (>= cutoff − 1 month) must NOT equal the full
    recompute — proves the key's exclusive/inclusive split is load-bearing
    and the merge would expose a double-counted row, not absorb it."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit(AGG_MV_CUTOFF)
    bad_delta_pred = F.col("o_orderdate") >= F.add_months(cut, -1)
    merged_bad = (
        _partial(o, F.col("o_orderdate") < cut)
        .unionByName(_partial(o, bad_delta_pred))
        .groupBy("o_year", "o_orderpriority")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    full = o.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.col("o_orderpriority"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    bad = {(r.o_year, r.o_orderpriority): r.cnt for r in merged_bad.collect()}
    ok = {(r.o_year, r.o_orderpriority): r.cnt for r in full.collect()}
    assert bad != ok
    # and the damage is exactly over-counting (never silent row loss)
    assert all(bad[k] >= ok[k] for k in ok)


def test_agg_merge_delta_scan_pushes_date_filter(spark, sf_dir):
    """The refresh side must read ONLY the delta: the o_orderdate >= cutoff
    predicate has to reach the parquet scan (PushedFilters), otherwise the
    'incremental' key silently rescans all of history every refresh."""
    df = q_agg_incremental_merge(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(
        "o_orderdate" in p and ("GreaterThanOrEqual" in p or "IsNotNull" in p)
        for p in pushed
    ), plan
    assert any("GreaterThanOrEqual(o_orderdate" in p for p in pushed), plan


def test_scd2_invariants(spark, sf_dir):
    """Structural SCD2 contract the value-hash can't articulate: (a) every
    key present in the latest snapshot has EXACTLY one open (is_current)
    row; (b) deleted-never-resurrected keys have none; (c) a key's periods
    are disjoint and ordered (valid_to == next valid_from); (d) the
    planted delete-then-resurrect keys (mod 101) carry exactly two
    disjoint periods with a gap."""
    rows = q_scd2_history(spark, sf_dir).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.custkey, []).append(r)
    d1, d2, d3 = SCD2_DATES
    saw_resurrect = 0
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r.valid_from)
        cur = [r for r in rs if r.is_current]
        assert len(cur) == 1, (k, rs)  # v3 contains every key
        assert cur[0].valid_to is None
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to is not None and a.valid_to <= b.valid_from, (k, rs)
        if k % 101 == 0:
            saw_resurrect += 1
            # deleted at v2, back at v3: [d1, d2) then [d3, open)
            assert [r.valid_from for r in rs] == [d1, d3], (k, rs)
            assert rs[0].valid_to == d2
    assert saw_resurrect > 0


def test_scd2_change_rows_only(spark, sf_dir):
    """No-op snapshots must NOT open new periods: a key untouched by every
    planted mod rule has exactly one row spanning v1 -> open."""
    rows = q_scd2_history(spark, sf_dir).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.custkey, []).append(r)
    untouched = [
        k for k in by_key
        if k % 97 and k % 89 and k % 101 and k % 53
    ]
    assert untouched
    for k in untouched:
        rs = by_key[k]
        assert len(rs) == 1 and rs[0].valid_from == SCD2_DATES[0]
        assert rs[0].is_current and rs[0].valid_to is None


def test_seq_align_hand_values(spark):
    """Hand-checkable alignment: a dropped event costs 1 deletion, a
    flipped type costs 1 substitution, a user absent from the replay
    reports n_dst=0 / jw 0.0 / distance = len(src), and reordering two
    events is detected (distance 2 swap) — row-level diffs would call the
    reorder 'two changed rows' but never see the order itself."""
    from cassandra_data_migrator_spark.operators.align import (
        sequence_align_diff,
    )

    schema = "user_id LONG, ts LONG, event_id LONG, event_type STRING"
    src = spark.createDataFrame(
        [
            (1, 10, 1, "view"), (1, 20, 2, "click"), (1, 30, 3, "purchase"),
            (2, 10, 4, "view"), (2, 20, 5, "click"),
            (3, 10, 6, "signup"), (3, 20, 7, "view"),
            (4, 10, 8, "view"), (4, 20, 9, "click"),
        ],
        schema,
    )
    dst = spark.createDataFrame(
        [
            # user 1: middle event dropped -> 1 deletion
            (1, 10, 1, "view"), (1, 30, 3, "purchase"),
            # user 2: type flipped -> 1 substitution
            (2, 10, 4, "view"), (2, 20, 5, "error"),
            # user 3 absent entirely
            # user 4: same events, order swapped -> vcs -> cv (distance 2)
            (4, 10, 8, "click"), (4, 20, 9, "view"),
        ],
        schema,
    )
    got = {r.user_id: r for r in sequence_align_diff(src, dst).collect()}
    assert (got[1].n_src, got[1].n_dst, got[1].edit_distance) == (3, 2, 1)
    assert (got[2].n_src, got[2].n_dst, got[2].edit_distance) == (2, 2, 1)
    assert (got[3].n_src, got[3].n_dst, got[3].edit_distance) == (2, 0, 2)
    assert got[3].jw_r == 0.0
    assert (got[4].n_src, got[4].n_dst, got[4].edit_distance) == (2, 2, 2)
    # identical histories align perfectly
    same = sequence_align_diff(src, src).collect()
    assert all(r.edit_distance == 0 and r.jw_r == 1.0 for r in same)


def test_seq_align_hybrid_equals_cogrouped(spark, sf_dir):
    """The hybrid (JVM sequence assembly + one mapInPandas) and the
    cogroup variant must return identical rows on the real fixture with
    the planted-damage replay — the contract that lets the key ride the
    fast shape while the cogroup API stays first-class."""
    from cassandra_data_migrator_spark.operators.align import (
        sequence_align_diff,
        sequence_align_diff_cogrouped,
    )

    e = _t(spark, sf_dir, "events")
    src = e.select("user_id", "ts", "event_id", "event_type")
    dst = e.filter(F.col("event_id") % 89 != 0).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 97 == 0, F.lit("error"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    a = {tuple(r) for r in sequence_align_diff(src, dst).collect()}
    b = {tuple(r) for r in sequence_align_diff_cogrouped(src, dst).collect()}
    assert a == b and a
