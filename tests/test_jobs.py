"""Job composition + run tracking + unit coverage of token/writetime logic
(SURVEY.md §5.2.3)."""

import os

import pytest
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.config import MigrationConfig
from cassandra_data_migrator_spark.functions.tokens import (
    TOKEN_MAX,
    TOKEN_MIN,
    slice_bounds,
    tok,
)
from cassandra_data_migrator_spark.functions.writetime import max_writetime
from cassandra_data_migrator_spark.operators import validation
from cassandra_data_migrator_spark.plans.migrate import run_job
from cassandra_data_migrator_spark.plans.tracking import (
    STATUS_FAILED,
    STATUS_PASSED,
    RunTracker,
)
from cassandra_data_migrator_spark.sources.parquet import load_table


def test_token_range_bounds(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    toks = o.select(tok("o_orderkey").alias("t")).agg(
        F.min("t").alias("lo"), F.max("t").alias("hi")
    ).first()
    assert toks.lo >= TOKEN_MIN and toks.hi <= TOKEN_MAX


def test_slice_bounds_cover_ring():
    bounds = slice_bounds(32)
    assert bounds[0][1] == TOKEN_MIN
    assert bounds[-1][2] == TOKEN_MAX
    for (_, _, hi), (_, lo2, _) in zip(bounds, bounds[1:]):
        assert lo2 == hi + 1


def test_max_writetime_custom_and_increment(spark):
    df = spark.createDataFrame([(100, 50)], "a BIGINT, b BIGINT")
    row = df.select(
        max_writetime(["a", "b"]).alias("m"),
        max_writetime(["a", "b"], increment_by=7).alias("mi"),
        max_writetime(["a", "b"], custom=999).alias("mc"),
    ).first()
    assert (row.m, row.mi, row.mc) == (100, 107, 999)


def test_migrate_job_end_to_end(spark, sf_dir, tmp_path):
    origin = load_table(spark, sf_dir, "orders")
    cfg = MigrationConfig(
        {
            "spark.cdm.schema.pk": "o_orderkey",
            "spark.cdm.filter.cassandra.whereCondition": "o_totalprice >= 50000",
            "spark.cdm.feature.constantColumns.names": "migrated_by",
            "spark.cdm.feature.constantColumns.values": "cdm-spark",
            "spark.cdm.feature.constantColumns.types": "string",
            "spark.cdm.connect.target.path": str(tmp_path / "target"),
        }
    )
    result = run_job(spark, "migrate", origin, cfg)
    assert result.counters is not None
    expected = origin.filter("o_totalprice >= 50000").count()
    assert result.counters["read_cnt"] == expected
    assert result.output.count() == expected
    assert "migrated_by" in result.output.columns


def test_validate_job_self_check(spark, sf_dir, tmp_path):
    """Engine-vs-engine self-validation (SURVEY.md §5.2.2): migrate then diff
    origin vs the migrated output → zero missing/mismatch."""
    origin = load_table(spark, sf_dir, "orders")
    cfg = MigrationConfig(
        {
            "spark.cdm.schema.pk": "o_orderkey",
            "spark.cdm.connect.target.path": str(tmp_path / "t2"),
        }
    )
    migrated = run_job(spark, "migrate", origin, cfg).output
    report = run_job(spark, "validate", origin, cfg, target=migrated).output
    assert report.count() == 0


def test_validate_job_finds_perturbations(spark, sf_dir):
    origin = load_table(spark, sf_dir, "orders")
    cfg = MigrationConfig({"spark.cdm.schema.pk": "o_orderkey"})
    target = validation.derived_target(origin, "o_orderkey", "o_orderstatus")
    report = run_job(spark, "validate", origin, cfg, target=target).output
    statuses = {r.status for r in report.select("status").distinct().collect()}
    assert statuses == {"missing", "mismatch"}


def test_guardrail_job(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cfg = MigrationConfig(
        {
            "spark.cdm.schema.pk": "doc_id",
            "spark.cdm.feature.guardrail.colSizeInKB": 1,
        }
    )
    # threshold 1 KB: sf0.001 docs max ~550 bytes → empty; lower via direct op
    out = run_job(spark, "guardrail", docs, cfg).output
    assert out.columns == ["doc_id", "col_name", "col_bytes"]
    assert out.filter("col_bytes <= 1024").count() == 0


def test_run_tracking_resume(spark, sf_dir, tmp_path):
    tracker = RunTracker(spark, str(tmp_path))
    run_id = tracker.start_run("migrate", num_slices=8)
    assert tracker.run_exists(run_id)
    assert tracker.pending_slices(run_id) == list(range(8))

    tracker.record_slices(run_id, [0, 1, 2, 3, 4, 6], STATUS_PASSED)
    tracker.record_slices(run_id, [5], STATUS_FAILED)
    assert tracker.pending_slices(run_id) == [5, 7]

    o = load_table(spark, sf_dir, "orders")
    resumed = tracker.resume_scope(o, "o_orderkey", 8, run_id)
    # resumed scope only contains rows from slices 5 and 7
    ids = {r.slice_id for r in resumed.select("slice_id").distinct().collect()}
    assert ids <= {5, 7}
    # and together with passed slices it covers the table
    full = o.count()
    done = o.count() - resumed.count()
    assert 0 < resumed.count() < full and done > 0


def test_run_migrate_tracked_and_resume(spark, sf_dir, tmp_path):
    """Tracked migrate end-to-end: full run marks all slices passed; a
    'failed' run resumed by id only reprocesses the pending slices."""
    from cassandra_data_migrator_spark.plans.migrate import run_migrate_tracked

    origin = load_table(spark, sf_dir, "orders")
    cfg = MigrationConfig(
        {
            "spark.cdm.schema.pk": "o_orderkey",
            "spark.cdm.perfops.numParts": 8,
            "spark.cdm.connect.target.path": str(tmp_path / "t"),
        }
    )
    tracker = RunTracker(spark, str(tmp_path / "runs"))
    result, run_id = run_migrate_tracked(spark, origin, cfg, tracker)
    assert tracker.pending_slices(run_id) == []
    assert result.counters["read_cnt"] == origin.count()

    # simulate a partial failure: mark two slices failed, resume into the
    # SAME target path — the resume must merge, not overwrite, so the output
    # of previously-passed slices survives and the table stays complete.
    tracker.record_slices(run_id, [2, 5], STATUS_FAILED)
    result2, rid2 = run_migrate_tracked(
        spark, origin, cfg, tracker, previous_run_id=run_id
    )
    assert rid2 == run_id
    assert tracker.pending_slices(run_id) == []
    # the resumed run only processed rows from slices 2 and 5
    assert 0 < result2.counters["read_cnt"] < origin.count()
    # full coverage: every origin row is present in the resumed target
    final = spark.read.parquet(str(tmp_path / "t"))
    assert final.count() == origin.count()
    assert final.select("o_orderkey").distinct().count() == origin.count()
    # no slice-update staging dirs left behind in the run bookkeeping
    leftovers = [p for p in (tmp_path / "runs" / "cdm_run_details").rglob("*__new")]
    assert leftovers == []


def test_cli_migrate_and_unknown_job(spark, sf_dir, tmp_path):
    from cassandra_data_migrator_spark.__main__ import main
    import json as _json
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "migrate",
                "--origin", sf_dir,
                "--table", "orders",
                "--conf", "spark.cdm.filter.cassandra.whereCondition=o_totalprice >= 50000",
                "--conf", f"spark.cdm.connect.target.path={tmp_path / 'cli_out'}",
            ]
        )
    assert rc == 0
    out = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["job"] == "migrate" and out["rows"] > 0 and "counters" in out

    import pytest as _pytest
    from cassandra_data_migrator_spark.config import UnknownJobError

    with _pytest.raises(UnknownJobError):
        main(["compact", "--origin", sf_dir, "--table", "orders"])


def test_writetime_preserved_through_sink(spark, sf_dir, tmp_path):
    """Per-row writetime survives the migrate sink (SURVEY.md §4.3.1: the
    computation is engine-side; the parquet world carries it as a column, the
    Cassandra sink would map it to per-row write options)."""
    from cassandra_data_migrator_spark.functions.writetime import (
        attach_event_writetimes,
        max_writetime,
    )

    e = attach_event_writetimes(load_table(spark, sf_dir, "events"))
    cfg = MigrationConfig(
        {
            "spark.cdm.schema.pk": "user_id",
            "spark.cdm.transform.custom.writetime.incrementBy": 5,
            "spark.cdm.connect.target.path": str(tmp_path / "wt"),
        }
    )
    out = run_job(spark, "migrate", e, cfg).output
    assert "__writetime" in out.columns
    expected = e.select(
        "event_id",
        max_writetime(["__writetime_value", "__writetime_props"], increment_by=5).alias("w"),
    )
    joined = out.select("event_id", "__writetime").join(expected, "event_id")
    assert joined.filter(F.col("__writetime") != F.col("w")).count() == 0


def test_validate_without_pk_config_aborts_clearly(spark, sf_dir):
    """A validate run with no spark.cdm.schema.pk must abort naming the
    missing key — the bare IndexError it used to raise is exactly the
    unhelpful failure a config-driven tool must never emit."""
    import pytest as _pytest

    from cassandra_data_migrator_spark.config import MigrationConfig
    from cassandra_data_migrator_spark.plans.migrate import run_job
    from cassandra_data_migrator_spark.sources.parquet import load_table as _lt

    o = _lt(spark, sf_dir, "orders")
    with _pytest.raises(ValueError, match="spark.cdm.schema.pk"):
        run_job(spark, "validate", o, MigrationConfig({}), target=o)


def test_validate_null_safe_pk_knob_changes_join_keys(spark, sf_dir):
    """spark.cdm.validate.nullSafePk=false must reach the diff join: the
    plan's join keys switch from coalesce/isnull wrappers to plain PKs
    (the bucket-compatible form), and the report is identical on non-null
    PKs."""
    from cassandra_data_migrator_spark.config import MigrationConfig
    from cassandra_data_migrator_spark.plans.migrate import run_job
    from cassandra_data_migrator_spark.sources.parquet import load_table as _lt

    o = _lt(spark, sf_dir, "orders")
    base = {"spark.cdm.schema.pk": "o_orderkey"}
    safe = run_job(spark, "validate", o, MigrationConfig(dict(base)), target=o)
    fast = run_job(
        spark, "validate", o,
        MigrationConfig(dict(base, **{"spark.cdm.validate.nullSafePk": False})),
        target=o,
    )
    fast_plan = fast.output._jdf.queryExecution().executedPlan().toString()
    safe_plan = safe.output._jdf.queryExecution().executedPlan().toString()
    assert "coalesce(o_orderkey" in safe_plan
    assert "coalesce(o_orderkey" not in fast_plan
    assert safe.output.count() == fast.output.count() == 0  # self-diff is clean


def test_profile_drift_flags_planted_damage(spark):
    """The planted drift (deletes, price shift, nulled priorities) must
    flag exactly the damaged metrics; untouched ones read clean."""
    from cassandra_data_migrator_spark.queries.multimodal_keys import (
        PROFILE_DRIFT_METRICS,
        q_validate_profile_drift,
    )

    rows = {
        r.metric: r
        for r in q_validate_profile_drift(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == set(PROFILE_DRIFT_METRICS)
    assert rows["n_rows"].drift == 1          # mod-89 deletes
    assert rows["null_o_orderpriority"].drift == 1   # mod-101 nulls
    assert rows["sum_o_totalprice"].drift == 1  # deletes + mod-97 shift
    assert rows["null_o_custkey"].drift == 0  # untouched column
    assert rows["nd_o_orderstatus"].drift == 0  # status set survives
    for r in rows.values():
        assert (r.origin_v != r.target_v) == bool(r.drift)


def test_validate_tier_prefilter_reports_only_true_missing(spark, sf_dir):
    """The bloom tier: every reported row is a genuinely missing PK
    (subset law), the catch rate is near-total at fixture sizing, and no
    mismatch rows appear (the tier answers only the missing question)."""
    origin = load_table(spark, sf_dir, "orders")
    cfg = MigrationConfig(
        {"spark.cdm.schema.pk": "o_orderkey", "spark.cdm.validate.tier": "prefilter"}
    )
    target = validation.derived_target(origin, "o_orderkey", "o_orderstatus")
    report = run_job(spark, "validate", origin, cfg, target=target).output
    got = {r.o_orderkey for r in report.collect()}
    truly_missing = {
        r.o_orderkey
        for r in origin.filter(F.col("o_orderkey") % 97 == 0).collect()
    }
    assert got <= truly_missing
    assert len(got) >= 0.9 * len(truly_missing)
    assert {r.status for r in report.select("status").distinct().collect()} <= {"missing"}


def test_validate_tier_sampled_matches_full_on_sample(spark, sf_dir):
    """The sampled tier equals the full diff restricted to the hash-residue
    class — deterministic, so a re-run audits the same rows."""
    origin = load_table(spark, sf_dir, "orders")
    target = validation.derived_target(origin, "o_orderkey", "o_orderstatus")
    cfg_s = MigrationConfig(
        {
            "spark.cdm.schema.pk": "o_orderkey",
            "spark.cdm.validate.tier": "sampled",
            "spark.cdm.validate.sampleMod": 7,
            "spark.cdm.validate.sampleResidue": 3,
        }
    )
    sampled = run_job(spark, "validate", origin, cfg_s, target=target).output
    cfg_f = MigrationConfig({"spark.cdm.schema.pk": "o_orderkey"})
    keep = F.pmod(F.xxhash64(F.col("o_orderkey")), F.lit(7)) == 3
    full = run_job(
        spark, "validate", origin.filter(keep), cfg_f, target=target.filter(keep)
    ).output
    assert sorted(map(tuple, sampled.collect())) == sorted(map(tuple, full.collect()))
    # determinism: same residue -> same rows
    again = run_job(spark, "validate", origin, cfg_s, target=target).output
    assert sorted(map(tuple, sampled.collect())) == sorted(map(tuple, again.collect()))


def test_validate_tier_unknown_aborts(spark, sf_dir):
    origin = load_table(spark, sf_dir, "orders")
    cfg = MigrationConfig(
        {"spark.cdm.schema.pk": "o_orderkey", "spark.cdm.validate.tier": "bogus"}
    )
    with pytest.raises(ValueError, match="tier"):
        run_job(spark, "validate", origin, cfg, target=origin)


def test_validate_tier_prefilter_composite_pk(spark, sf_dir):
    """Composite PKs collapse to one xxhash64 key on both sides; the
    subset law must hold for lineitem's (orderkey, linenumber) PK too."""
    origin = load_table(spark, sf_dir, "lineitem")
    target = origin.filter(F.col("l_orderkey") % 53 != 0)
    cfg = MigrationConfig(
        {
            "spark.cdm.schema.pk": "l_orderkey,l_linenumber",
            "spark.cdm.validate.tier": "prefilter",
        }
    )
    report = run_job(spark, "validate", origin, cfg, target=target).output
    got = {(r.l_orderkey, r.l_linenumber) for r in report.collect()}
    truly = {
        (r.l_orderkey, r.l_linenumber)
        for r in origin.filter(F.col("l_orderkey") % 53 == 0).collect()
    }
    assert got <= truly
    assert len(got) >= 0.9 * len(truly)
