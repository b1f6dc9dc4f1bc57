"""The benchmark workloads and their units.

A unit is one closed-loop request: ``build`` (builder call, lazy plan plus any
eager side jobs), then ``action`` (the work that produces the output), then an
untimed ``check`` of the output. Query units drive a
registry key through ``queries()[key](spark, dir)`` and a noop write; the
``cdm_jobs`` units drive the migrate, validate, guardrail and streaming jobs
through their public entry points.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

# The keys the query workload times: the part of its key family that fits
# the per-run time budget (every key's cold pass is paid in each fresh
# process; the whole dedup_ann family costs 41-106 s cold). dedup_ann keeps
# the text-dedup side-job key and the IVF recall audit, whose builder trains
# the IVF coarse quantizer (Lloyd). NOTES.md gives the measured cost of the
# PQ audit, which does not fit.
KEYS = {
    "dedup_ann": ["dedup_ngram", "ivf_recall_audit"],
}

# An untraced run makes max(2, seconds // PASS_BUDGET_S) warm passes. The
# count depends only on --seconds, so every run takes the same number of
# samples and the tail percentile is a fixed rank; at --seconds 8 each
# workload makes 2 warm passes (cdm_jobs 14 unit samples, dedup_ann 4).
# Traced runs make TRACED_PASSES warm passes.
PASS_BUDGET_S = 4.0
TRACED_PASSES = 2
WORKLOADS = ["cdm_jobs", "dedup_ann"]


@dataclass
class Outcome:
    """What a unit leaves for its check and for the per-layer metrics."""

    df: Any = None
    load_s: float = 0.0
    extra: dict = field(default_factory=dict)


@dataclass
class Unit:
    uid: str
    kind: str  # "query" or "plan"
    build: Callable[[], Outcome]
    action: Callable[[Outcome], None]


def _noop_write(o: Outcome) -> None:
    o.df.write.format("noop").mode("overwrite").save()


def query_units(spark, input_dir: str, keys: list[str]) -> list[Unit]:
    from cassandra_data_migrator_spark import queries as q

    registry = q.queries()
    units = []
    for key in keys:
        fn = registry[key]
        units.append(
            Unit(key, "query", lambda fn=fn: Outcome(df=fn(spark, input_dir)), _noop_write)
        )
    return units


def cdm_units(spark, input_dir: str, manifest: dict, scratch: str) -> list[Unit]:
    """The CDM job analogs on the seeded origin and damaged target."""
    import time

    from cassandra_data_migrator_spark.config import MigrationConfig
    from cassandra_data_migrator_spark.plans.migrate import run_job, run_migrate_tracked
    from cassandra_data_migrator_spark.plans.tracking import STATUS_FAILED, RunTracker
    from cassandra_data_migrator_spark.sources.parquet import load_table
    from cassandra_data_migrator_spark.streaming.migrate import streaming_migrate

    import gen

    def timed_load(o: Outcome, name: str):
        t0 = time.perf_counter()
        df = load_table(spark, input_dir, name)
        o.load_s += time.perf_counter() - t0
        return df

    def fresh(name: str) -> str:
        path = os.path.join(scratch, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    migrate_cfg = {
        "spark.cdm.schema.pk": "o_orderkey",
        "spark.cdm.filter.cassandra.whereCondition": f"o_totalprice >= {gen.MIGRATE_WHERE_PRICE}",
        "spark.cdm.feature.constantColumns.names": "migrated_by",
        "spark.cdm.feature.constantColumns.values": "perfbench",
        "spark.cdm.feature.constantColumns.types": "string",
        "spark.cdm.schema.origin.column.names.to.target":
            "o_orderstatus:status,o_totalprice:total_price",
    }

    # migrate: where-filter, constant column and column mapping into a real
    # parquet sink (the job's write is the action)
    def migrate_build() -> Outcome:
        o = Outcome()
        o.extra["origin"] = timed_load(o, "orders")
        o.extra["cfg"] = MigrationConfig(
            {**migrate_cfg, "spark.cdm.connect.target.path": fresh("migrate_sink")}
        )
        return o

    def migrate_action(o: Outcome) -> None:
        res = run_job(spark, "migrate", o.extra["origin"], o.extra["cfg"])
        o.df, o.extra["counters"] = res.output, res.counters
        o.extra["sink"] = o.extra["cfg"].get("spark.cdm.connect.target.path")

    # tracked migrate of the composite-PK lineitem, then a resume of the
    # seeded failed slices into the same target
    def resume_build() -> Outcome:
        o = Outcome()
        o.extra["origin"] = timed_load(o, "lineitem")
        o.extra["cfg"] = MigrationConfig(
            {
                "spark.cdm.schema.pk": "l_orderkey,l_linenumber",
                "spark.cdm.perfops.numParts": gen.RESUME_SLICES,
                "spark.cdm.connect.target.path": fresh("resume_sink"),
            }
        )
        o.extra["tracker"] = RunTracker(spark, fresh("resume_runs"))
        return o

    def resume_action(o: Outcome) -> None:
        origin, cfg, tracker = o.extra["origin"], o.extra["cfg"], o.extra["tracker"]
        first, run_id = run_migrate_tracked(spark, origin, cfg, tracker)
        tracker.record_slices(run_id, manifest["resume_failed"], STATUS_FAILED)
        t0 = time.perf_counter()
        second, _ = run_migrate_tracked(spark, origin, cfg, tracker, previous_run_id=run_id)
        o.extra["resume_s"] = time.perf_counter() - t0
        o.extra["counters"] = (first.counters, second.counters)
        o.extra["pending"] = tracker.pending_slices(run_id)
        o.extra["sink"] = cfg.get("spark.cdm.connect.target.path")

    def validate_build(tier: str) -> Callable[[], Outcome]:
        def build() -> Outcome:
            o = Outcome()
            origin = timed_load(o, "orders")
            target = timed_load(o, "orders_target")
            cfg = MigrationConfig(
                {
                    "spark.cdm.schema.pk": "o_orderkey",
                    "spark.cdm.validate.tier": tier,
                    "spark.cdm.validate.sampleMod": gen.SAMPLE_MOD,
                    "spark.cdm.validate.sampleResidue": gen.SAMPLE_RESIDUE,
                }
            )
            o.df = run_job(spark, "validate", origin, cfg, target=target).output
            return o

        return build

    def guardrail_build() -> Outcome:
        o = Outcome()
        docs = timed_load(o, "documents")
        cfg = MigrationConfig(
            {"spark.cdm.schema.pk": "doc_id", "spark.cdm.feature.guardrail.colSizeInKB": gen.GUARDRAIL_KB}
        )
        o.df = run_job(spark, "guardrail", docs, cfg).output
        return o

    # streaming migrate over the seeded micro-batch files, one file per
    # trigger
    def streaming_build() -> Outcome:
        o = Outcome()
        schema = timed_load(o, "orders").schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(input_dir, "stream"))
        )
        cfg = MigrationConfig({k: v for k, v in migrate_cfg.items() if "column.names" not in k})
        sink = fresh("stream_sink")
        o.extra["query"] = streaming_migrate(src, cfg, sink, fresh("stream_ckpt"))
        o.extra["sink"] = sink
        return o

    def streaming_action(o: Outcome) -> None:
        q = o.extra.pop("query")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        o.extra["progress"] = [
            (p["durationMs"].get("triggerExecution", 0) / 1000.0, p["numInputRows"])
            for p in q.recentProgress
            if p["numInputRows"]
        ]

    return [
        Unit("migrate", "plan", migrate_build, migrate_action),
        Unit("migrate_resume", "plan", resume_build, resume_action),
        Unit("validate_full", "plan", validate_build("full"), _noop_write),
        Unit("validate_sampled", "plan", validate_build("sampled"), _noop_write),
        Unit("validate_prefilter", "plan", validate_build("prefilter"), _noop_write),
        Unit("guardrail", "plan", guardrail_build, _noop_write),
        Unit("streaming", "plan", streaming_build, streaming_action),
    ]
