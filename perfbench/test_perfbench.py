"""Self-tests of the benchmark harness (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

RECORDED_LOG = os.path.join(HERE, "recorded", "eventlog_small.json")


def test_tail_rule_keeps_ten_samples_beyond():
    value, pct, n = metrics.tail([float(i) for i in range(1, 21)])
    assert (value, pct, n) == (10.0, 50.0, 20)
    # exactly 11 samples: the smallest one is the only rank with 10 above
    value, pct, n = metrics.tail([5.0, 1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 10.0, 11.0])
    assert (value, n) == (1.0, 11) and pct == pytest.approx(100 / 11)
    # fewer samples than that: no such rank, the maximum stands in
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        metrics.tail([])


def test_self_time_subtracts_union_of_children():
    spans = [
        {"name": "unit", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "a", "parent": "unit", "start": 1.0, "end": 3.0},
        {"name": "b", "parent": "unit", "start": 2.0, "end": 5.0},  # overlaps a
        {"name": "c", "parent": "unit", "start": 8.0, "end": 12.0},  # clipped at 10
        {"name": "a1", "parent": "a", "start": 1.5, "end": 2.0},
    ]
    st = eventlog.self_times(spans)
    assert st["unit"] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st["a"] == pytest.approx(1.5)
    assert st["b"] == pytest.approx(3.0)
    assert st["a1"] == pytest.approx(0.5)


def test_eventlog_parser_on_recorded_log():
    with open(RECORDED_LOG) as fh:
        lines = fh.readlines()
    events = [json.loads(line) for line in lines]
    job_totals, spans = eventlog.parse(lines)
    task_ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert sum(t["tasks"] for t in job_totals.values()) == len(task_ends)
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in task_ends)
    assert sum(t["run_s"] for t in job_totals.values()) == pytest.approx(run_ms / 1e3)
    for t in job_totals.values():
        assert 0 <= t["python_s"] <= t["run_s"]
    jobs = {s["name"] for s in spans if s["kind"] == "job"}
    assert jobs and {s["parent"] for s in spans if s["kind"] == "stage"} <= jobs

    # phases: the groups the recorded log carries, spanning their jobs
    groups = {}
    for s in spans:
        if s["kind"] == "job":
            lo, hi = groups.get(s["group"], (s["start"], s["end"]))
            groups[s["group"]] = (min(lo, s["start"]), max(hi, s["end"]))
    phases = [{"name": g, "start": lo, "end": hi} for g, (lo, hi) in groups.items()]
    per_phase = eventlog.by_phase(job_totals, spans, phases)
    assert set(per_phase) == set(groups)
    assert any(g.endswith(":build") for g in per_phase) and any(g.endswith(":action") for g in per_phase)
    assert sum(t["tasks"] for t in per_phase.values()) == len(task_ends)
    # a job outside every named group is attributed by time and re-parented
    job = next(s for s in spans if s["kind"] == "job")
    job["group"] = "stream-query-run-id"
    per_phase = eventlog.by_phase(job_totals, spans, phases)
    assert job["parent"] in groups
    assert sum(t["tasks"] for t in per_phase.values()) == len(task_ends)


def test_recall_audit_with_empty_query_set_fails():
    assert checks.queries_nonempty([{"n_brute": 50, "recall_ok": True}])
    assert not checks.queries_nonempty([{"n_brute": 0, "recall_ok": True}])
    # outputs without the column are not recall audits
    assert checks.queries_nonempty([{"doc_id": 1}])


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        n: metrics.END_TO_END[n] for n in metrics.GATED
    }
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == workloads.WORKLOADS


def test_generator_is_deterministic_per_seed(tmp_path):
    d1, m1 = gen.generate("dedup_ann", 5, str(tmp_path / "a"))
    d2, m2 = gen.generate("dedup_ann", 5, str(tmp_path / "b"))
    _, m3 = gen.generate("dedup_ann", 6, str(tmp_path / "a"))
    assert m1 == m2 and m1 != m3
    for t in ("documents", "embeddings"):
        with open(os.path.join(d1, f"{t}.parquet", "part-00000.parquet"), "rb") as a, \
                open(os.path.join(d2, f"{t}.parquet", "part-00000.parquet"), "rb") as b:
            assert a.read() == b.read()
