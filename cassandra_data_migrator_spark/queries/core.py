"""CDM reference-surface keys (SURVEY.md §2a): scan/codec/filter/validate/migrate.
"""

from __future__ import annotations

from cassandra_data_migrator_spark.queries._shared import (  # noqa: F401
    COVERAGE_PERCENT,
    F,
    GUARDRAIL_MAX_BYTES,
    MIGRATE_FILTER,
    NUM_SLICES,
    SKIP_PREDICATE,
    TOKEN_RANGE,
    WRITETIME_INCREMENT_US,
    WRITETIME_MAX_US,
    WRITETIME_MIN_US,
    _ORDER_COMPARE_COLS,
    _binfile_stage_dir,
    _scratch_dir,
    _t,
    attach_event_ttls,
    attach_event_writetimes,
    codecs,
    colsize_guardrail,
    explode_map,
    extract_json,
    job_counters,
    json_to_map,
    max_ttl,
    max_writetime,
    pmod_100,
    slice_stats,
    tok,
    transforms,
    validation,
)

# ---------------------------------------------------------------------------
# 2a reference-surface queries


def q_scan_project(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return transforms.project_rename(
        li,
        {
            "l_orderkey": "order_id",
            "l_linenumber": "line_no",
            "l_quantity": "qty",
            "l_extendedprice": "price",
            "l_returnflag": "flag",
        },
    )


def q_const_columns(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return transforms.constant_columns(
        o, {"migrated_by": ("cdm-spark", "string"), "schema_version": (2, "bigint")}
    )


def q_codec_cast(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        codecs.int_to_string(F.col("l_orderkey")).alias("order_id_str"),
        codecs.double_to_string(F.col("l_quantity"), 10, 2).alias("qty_str"),
        codecs.string_to_bigint(codecs.int_to_string(F.col("l_partkey"))).alias("partkey_rt"),
    )


def q_codec_timestamp(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.col("event_id"),
        codecs.timestamp_to_millis(F.col("ts_us")).alias("ts_ms"),
        codecs.timestamp_to_string(F.col("ts")).alias("ts_str"),
    )


def q_codec_duration(spark, sf_dir):
    """CQL duration codec round-trip (SURVEY §1.2's one unoracled codec):
    build a CQL duration STRING deterministically
    from event columns, parse it with the regexp codec
    (functions/codecs.py cql_duration_parse), and emit the wire triple plus
    the canonical re-formatted text. The oracle computes the expected triple
    ARITHMETICALLY from the same source columns — if the parse mishandles
    the m/mo/ms ambiguity or unit scaling, the hashes diverge. Pure codegen
    expressions; embarrassingly parallel at any scale.

    spread_by widens the 1-task fixture scan (one parquet row group)
    so the regex tokenize + str_to_map chain runs on every core instead of
    one; only (event_id, user_id) cross the exchange after pruning.
    Pass-through at production split counts."""
    from cassandra_data_migrator_spark.operators.partition import spread_by

    e = spread_by(_t(spark, sf_dir, "events"), "event_id")
    comp = {
        "y": F.col("event_id") % 3,
        "mo": F.col("user_id") % 14,
        "w": F.col("event_id") % 4,
        "d": F.col("user_id") % 9,
        "h": F.col("event_id") % 25,
        "m": F.col("user_id") % 61,
        "s": F.col("event_id") % 62,
        "ms": F.col("user_id") % 1000,
        "us": F.col("event_id") % 900,
        "ns": F.col("user_id") % 800,
    }

    def piece(c, unit):
        return F.when(c > 0, F.concat(c.cast("string"), F.lit(unit))).otherwise(F.lit(""))

    dur_str = F.concat(*[piece(c, u) for u, c in comp.items()])
    parsed = codecs.cql_duration_parse(F.col("dur_str"))
    return (
        e.select(F.col("event_id"), dur_str.alias("dur_str"))
        .withColumn("dur", parsed)
        .select(
            "event_id",
            "dur_str",
            F.col("dur").months.alias("months"),
            F.col("dur").days.alias("days"),
            F.col("dur").nanos.alias("nanos"),
            codecs.cql_duration_format(F.col("dur")).alias("canon"),
        )
    )


def q_extract_json(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = extract_json("props", "k")
    return e.select(
        F.col("event_id"), k.alias("k_str"), k.cast("bigint").alias("k_val")
    )


def q_explode_map(spark, sf_dir):
    e = _t(spark, sf_dir, "events").withColumn("props_map", json_to_map("props", "bigint"))
    return explode_map(e, "props_map", keep=["event_id"])


def q_writetime_compute(spark, sf_dir):
    e = attach_event_writetimes(_t(spark, sf_dir, "events"))
    wt = max_writetime(
        ["__writetime_value", "__writetime_props"], increment_by=WRITETIME_INCREMENT_US
    )
    return e.select(F.col("event_id"), wt.alias("writetime"))


def q_ttl_compute(spark, sf_dir):
    e = attach_event_ttls(_t(spark, sf_dir, "events"))
    return e.select(F.col("event_id"), max_ttl(["__ttl_value", "__ttl_props"]).alias("ttl"))


def q_where_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return transforms.where_filter(li, "l_quantity > 30 AND l_returnflag = 'R'").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


def q_token_range_filter(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    lo, hi = TOKEN_RANGE
    return transforms.token_range_filter(o, "o_orderkey", lo, hi).select(
        F.col("o_orderkey"), tok("o_orderkey").alias("token")
    )


def q_percent_coverage_filter(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return transforms.percent_coverage_filter(o, "o_orderkey", COVERAGE_PERCENT).select(
        F.col("o_orderkey"), pmod_100(tok("o_orderkey")).alias("token_mod")
    )


def q_writetime_filter(spark, sf_dir):
    e = attach_event_writetimes(_t(spark, sf_dir, "events"))
    wt = max_writetime(["__writetime_value", "__writetime_props"])
    filtered = transforms.writetime_window_filter(
        e.withColumn("writetime", wt), F.col("writetime"), WRITETIME_MIN_US, WRITETIME_MAX_US
    )
    return filtered.select("event_id", "writetime")


def q_column_value_skip_filter(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return transforms.column_value_skip_filter(o, "o_orderpriority", "URGENT").select(
        "o_orderkey", "o_orderpriority"
    )


def q_validate_diff(spark, sf_dir):
    origin = _t(spark, sf_dir, "orders")
    target = validation.derived_target(origin, "o_orderkey", "o_orderstatus")
    return validation.diff(origin, target, ["o_orderkey"], _ORDER_COMPARE_COLS)


DIFF_SAMPLE_MOD = 10
DIFF_SAMPLE_RESIDUE = 3


def q_validate_diff_sampled(spark, sf_dir):
    """Tier-2 of the tiered validation story (profile screen →
    SAMPLED diff → full diff): a deterministic token-style PK sample
    (o_orderkey % 10 == 3, CDM's coverage-percent idiom on the token
    ring) restricts BOTH sides BEFORE the join, so at 100 TB the
    co-partition shuffle moves 1/MOD of each table instead of all of it;
    the same planted-damage target and the same diff operator as
    validate_diff, rolled up to one summary row with the 1/frac
    extrapolated damage estimates a migration operator actually reads.
    Any residue class works because the planted damage (mod-97 deletes,
    mod-101 mutations) is independent of the mod-10 sample."""
    origin = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % DIFF_SAMPLE_MOD == DIFF_SAMPLE_RESIDUE
    )
    target = validation.derived_target(origin, "o_orderkey", "o_orderstatus")
    d = validation.diff(
        origin, target, ["o_orderkey"], _ORDER_COMPARE_COLS, include_valid=True
    )
    n_missing = F.sum((F.col("status") == "missing").cast("bigint"))
    n_mismatch = F.sum((F.col("status") == "mismatch").cast("bigint"))
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("sampled_rows"),
        n_missing.cast("bigint").alias("n_missing"),
        n_mismatch.cast("bigint").alias("n_mismatch"),
        F.sum((F.col("status") == "valid").cast("bigint")).cast("bigint").alias("n_valid"),
        (n_missing * DIFF_SAMPLE_MOD).cast("bigint").alias("est_total_missing"),
        (n_mismatch * DIFF_SAMPLE_MOD).cast("bigint").alias("est_total_mismatch"),
    )


def q_autocorrect_missing(spark, sf_dir):
    origin = _t(spark, sf_dir, "orders")
    target = validation.derived_target(origin, "o_orderkey", "o_orderstatus")
    fixed = validation.autocorrect_missing(origin, target, ["o_orderkey"])
    return fixed.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_ms"),
        "o_orderpriority",
    )


def q_counter_delta(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,4)")
    origin = e.groupBy("user_id").agg(F.sum(dec).alias("cnt"))
    target = e.filter(F.col("event_id") % 5 != 0).groupBy("user_id").agg(F.sum(dec).alias("cnt"))
    d = validation.counter_delta(origin, target, ["user_id"], "cnt")
    return d.select("user_id", F.col("delta").cast("double").alias("delta"))


def q_guardrail_colsize(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return colsize_guardrail(d, ["doc_id"], ["text", "lang", "source"], GUARDRAIL_MAX_BYTES)


def q_job_counters(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return job_counters(o, F.expr(SKIP_PREDICATE))


def q_partition_slices(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return slice_stats(o, "o_orderkey", NUM_SLICES)


# run_tracking_resume fixture: 16 slices, planted outcomes. Slices 3 and 11
# fail, slice 7 is never recorded (still pending), the rest pass — so resume
# must re-scope exactly {3, 7, 11}.
TRACK_SLICES = 16
TRACK_FAILED = [3, 11]
TRACK_PENDING = [7]


def q_run_tracking_resume(spark, sf_dir):
    """Run-tracking resume under the DRIVER check (§2a #6 was pytest-only):
    a REAL RunTracker run (plans/tracking.py — manifest
    parquet written, per-slice statuses recorded through record_slices, the
    resume anti-join evaluated by resume_scope) with planted outcomes, then
    one row per slice: its recorded status + how many origin rows the resume
    pass would re-process. The oracle recomputes the planted status table and
    the slice row counts from the orders table in SQL — a tracker that loses
    a status update, resumes a passed slice, or skips a pending one turns
    the key red. The tracking dir is session-scoped (same mkdtemp discipline
    as the binaryFile staging dir)."""
    from cassandra_data_migrator_spark.plans.tracking import (
        STATUS_FAILED,
        STATUS_PASSED,
        RunTracker,
    )

    o = _t(spark, sf_dir, "orders")
    tracker = RunTracker(spark, _binfile_stage_dir(spark, sf_dir + "#runs"))
    run_id = tracker.start_run("migrate", num_slices=TRACK_SLICES)
    passed = [
        s
        for s in range(TRACK_SLICES)
        if s not in TRACK_FAILED and s not in TRACK_PENDING
    ]
    tracker.record_slices(run_id, passed, STATUS_PASSED)
    tracker.record_slices(run_id, TRACK_FAILED, STATUS_FAILED)
    details = spark.read.parquet(tracker._details_path(run_id)).select(
        "slice_id", "status"
    )
    resumed = tracker.resume_scope(o, "o_orderkey", TRACK_SLICES, run_id)
    rcnt = resumed.groupBy("slice_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("resume_rows")
    )
    return details.join(rcnt, "slice_id", "left").select(
        "slice_id",
        "status",
        F.coalesce(F.col("resume_rows"), F.lit(0).cast("bigint")).alias(
            "resume_rows"
        ),
    )


def q_migrate_rowcount(spark, sf_dir):
    """End-to-end migrate: read → feature pipeline → parquet sink → re-read →
    count (SURVEY.md §2 #3; the e2e smoke of the migrate job)."""
    import os

    o = _t(spark, sf_dir, "orders")
    piped = transforms.where_filter(
        transforms.constant_columns(o, {"migrated_by": ("cdm-spark", "string")}),
        MIGRATE_FILTER,
    )
    # unique per-session output dir: concurrent runs (bench + verify, two
    # sessions on one fixture) must not race on the same path
    out = _scratch_dir(
        spark, "cdm_spark_migrate", f"{os.path.basename(sf_dir.rstrip('/'))}"
    )
    piped.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).agg(F.count(F.lit(1)).cast("bigint").alias("written_cnt"))
