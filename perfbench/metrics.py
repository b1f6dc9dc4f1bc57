"""Turn a worker's raw samples into the benchmark's metrics.

The metric names and units are the ones declared in BENCHMARK.json; the
self-test checks that the two agree.
"""

from __future__ import annotations

import statistics

from eventlog import EXEC_FIELDS

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "unit_p50_s": "s",
    "unit_tail_s": "s",
}
# The end-to-end metrics BENCHMARK.json bounds. The unit quantiles are
# printed but not bounded: with 4 to 14 warm samples drawn from 2 to 7 units
# of distinct durations, the rank they read falls in a different unit's
# samples from seed to seed, and they spread by up to a quarter run to run.
GATED = ("setup_s", "cold_s", "warm_s")

PER_LAYER = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_tasks": "count",
    "queries.cold_extra_s": "s",
    "action.s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "plans.migrate_s": "s",
    "plans.migrate_rows_per_s": "rows/s",
    "plans.resume_s": "s",
    "plans.validate_full_s": "s",
    "plans.validate_sampled_s": "s",
    "plans.validate_prefilter_s": "s",
    "plans.guardrail_s": "s",
    "sources.load_s": "s",
    "sources.output_bytes_per_input_byte": "ratio",
    "streaming.batch_s": "s",
    "streaming.rows_per_s": "rows/s",
    **{f"exec.{f}": ("count" if f.startswith("tasks") else "bytes" if f.endswith("bytes") else "s")
       for f in EXEC_FIELDS},
    "state.persisted_rdds": "count",
    "state.atexit_hooks": "count",
    "trace.overhead": "ratio",
}

PLAN_METRICS = {
    "plans.validate_full_s": "validate_full",
    "plans.validate_sampled_s": "validate_sampled",
    "plans.validate_prefilter_s": "validate_prefilter",
    "plans.guardrail_s": "guardrail",
}


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """Value at the highest percentile that still has ``beyond`` samples
    above it. Returns (value, percentile, n). With fewer than beyond+1
    samples there is no such percentile and the maximum is returned at 100."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    i = n - 1 - beyond
    if i < 0:
        return s[-1], 100.0, n
    return s[i], 100.0 * (i + 1) / n, n


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _pass_sum(p: list[dict], key, kinds=("query", "plan")) -> float:
    return sum(key(r) for r in p if r["ok"] and r["kind"] in kinds)


def failures(res: dict) -> tuple[int, int, list[str]]:
    attempted = failed = 0
    why = []
    for i, p in enumerate(res["passes"]):
        for r in p:
            attempted += 1
            if not r["ok"]:
                failed += 1
                why.append(f"pass {i} {r['uid']}: {r.get('error') or r.get('check_msg')}")
    return attempted, failed, why


def cold_s(res: dict) -> float:
    return _pass_sum(res["passes"][0], lambda r: r["total_s"])


def end_to_end(res: dict, setup_samples: list[float]) -> tuple[dict, dict]:
    cold, warm = res["passes"][0], res["passes"][1:]
    unit_samples = [r["total_s"] for p in warm for r in p if r["ok"]]
    value, pct, n = tail(unit_samples)
    values = {
        "setup_s": _median(setup_samples),
        "cold_s": cold_s(res),
        "warm_s": _median(_pass_sum(p, lambda r: r["total_s"]) for p in warm),
        "unit_p50_s": _median(unit_samples),
        "unit_tail_s": value,
    }
    return values, {"unit_tail_percentile": pct, "unit_samples": n}


def per_layer(res: dict, untraced_cold_s: float, exec_by_group: dict, manifest: dict) -> dict:
    cold, warm = res["passes"][0], res["passes"][1:]
    by_uid = {}
    for p in warm:
        for r in p:
            if r["ok"]:
                by_uid.setdefault(r["uid"], []).append(r)

    def warm_med(fn, kinds=("query", "plan")):
        return _median(_pass_sum(p, fn, kinds) for p in warm)

    def unit_med(uid, key="total_s"):
        return _median(r[key] for r in by_uid.get(uid, []) if key in r)

    cold_extra = sum(
        r["total_s"] - unit_med(r["uid"]) for r in cold if r["ok"] and r["uid"] in by_uid
    )
    out = {
        "session.import_s": res["import_s"],
        "session.get_spark_s": res["get_spark_s"],
        "session.jvm_peak_rss_mb": res["jvm_peak_rss_mb"],
        "queries.build_s": warm_med(lambda r: r["build_s"], ("query",)),
        "queries.build_jobs": warm_med(lambda r: r["build"]["jobs"], ("query",)),
        "queries.build_tasks": warm_med(lambda r: r["build"]["tasks"], ("query",)),
        "queries.cold_extra_s": cold_extra,
        "action.s": warm_med(lambda r: r["action_s"]),
        "action.jobs": warm_med(lambda r: r["action"]["jobs"]),
        "action.stages": warm_med(lambda r: r["action"]["stages"]),
        "action.tasks": warm_med(lambda r: r["action"]["tasks"]),
        "sources.load_s": warm_med(lambda r: r["load_s"], ("plan",)),
        "state.persisted_rdds": warm_med(lambda r: r["persisted_rdds"]),
        "state.atexit_hooks": res["atexit_growth"],
        "trace.overhead": cold_s(res) / untraced_cold_s,
    }
    migrate_s = unit_med("migrate")
    out["plans.migrate_s"] = migrate_s
    out["plans.migrate_rows_per_s"] = (
        manifest["tables"]["orders"]["rows"] / migrate_s if migrate_s else 0.0
    )
    out["plans.resume_s"] = unit_med("migrate_resume", "resume_s")
    for name, uid in PLAN_METRICS.items():
        out[name] = unit_med(uid)
    sink = [r["sink_bytes"] for p in res["passes"] for r in p if "sink_bytes" in r]
    out["sources.output_bytes_per_input_byte"] = (
        sink[-1] / manifest["tables"]["orders"]["bytes"] if sink else 0.0
    )
    stream = by_uid.get("streaming", [])
    out["streaming.batch_s"] = _median(b for r in stream for b, _ in r.get("progress", []))
    out["streaming.rows_per_s"] = _median(
        sum(n for _, n in r["progress"]) / r["total_s"] for r in stream
    )
    for f, v in _exec_medians(res, exec_by_group, ("build", "action")).items():
        out[f"exec.{f}"] = v
    return out


def _exec_medians(res: dict, exec_by_phase: dict, phases: tuple[str, ...]) -> dict:
    """Executor totals of the given phases of every unit, per warm pass,
    median over the warm passes."""
    per_pass = [
        [exec_by_phase.get(f"p{i}:{r['uid']}:{ph}", {}) for r in p for ph in phases]
        for i, p in enumerate(res["passes"][1:], start=1)
    ]
    return {f: _median(sum(t.get(f, 0) for t in ts) for ts in per_pass) for f in EXEC_FIELDS}


def exec_split(res: dict, exec_by_phase: dict) -> dict[str, dict]:
    """Warm-pass executor totals split into the build and action phases."""
    return {ph: _exec_medians(res, exec_by_phase, (ph,)) for ph in ("build", "action")}
