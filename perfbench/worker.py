"""One fresh benchmark process: set up the session, time a cold pass and the
warm passes of a workload's units, check every unit's output after it (untimed),
and write the raw samples as JSON. ``run.py`` starts it and turns the samples into metrics.

Timings use ``time.time()`` so harness spans line up with the Spark event
log; process start comes from the parent's ``time.time()`` just before the
spawn (``PERFBENCH_T0``).
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _group_counts(sc, group: str) -> dict:
    """Jobs, stages and completed tasks of one job group (statusTracker)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0:
                stages += 1
                tasks += s.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def main() -> int:
    t0 = float(os.environ["PERFBENCH_T0"])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--passes", type=int, required=True, help="warm passes (0: cold only)")
    ap.add_argument("--keys", default="", help="comma-separated query keys")
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from cassandra_data_migrator_spark import queries as q
    from cassandra_data_migrator_spark.session import get_spark

    q.queries()
    t_imported = time.time()
    spark = get_spark(f"perfbench-{args.workload}", cpus=args.cpus)
    t_ready = time.time()
    sc = spark.sparkContext
    atexit_start = atexit._ncallbacks()

    import checks
    import gen
    import workloads

    with open(os.path.join(args.input_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    if args.workload == "cdm_jobs":
        units = workloads.cdm_units(spark, args.input_dir, manifest, args.scratch)
    else:
        units = workloads.query_units(spark, args.input_dir, args.keys.split(","))
    checker = checks.Checker(spark, args.input_dir, manifest)

    def drop_cached() -> None:
        spark.catalog.clearCache()
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    spans: list[dict] = []
    passes: list[list[dict]] = []
    for p in range(1 + args.passes):
        p_start = time.time()
        pass_id = f"p{p}"
        samples = []
        for u in units:
            q.purge_session_artifacts(spark)
            gid = f"{pass_id}:{u.uid}"
            rec = {"uid": u.uid, "kind": u.kind, "ok": True}
            t_build = time.time()
            try:
                sc.setJobGroup(f"{gid}:build", u.uid)
                o = u.build()
                t_action = time.time()
                sc.setJobGroup(f"{gid}:action", u.uid)
                u.action(o)
                t_end = time.time()
            except Exception:
                rec.update(ok=False, error=traceback.format_exc(limit=3))
                samples.append(rec)
                sc.setJobGroup("harness", "untimed")
                drop_cached()
                continue
            rec.update(
                build_s=t_action - t_build, action_s=t_end - t_action,
                total_s=t_end - t_build, load_s=o.load_s,
                build=_group_counts(sc, f"{gid}:build"),
                action=_group_counts(sc, f"{gid}:action"),
            )
            for k in ("resume_s", "progress"):
                if k in o.extra:
                    rec[k] = o.extra[k]
            spans += [
                {"name": gid, "kind": "unit", "start": t_build, "end": t_end, "parent": pass_id, "unit": u.uid},
                {"name": f"{gid}:build", "kind": "build", "start": t_build, "end": t_action, "parent": gid, "unit": u.uid},
                {"name": f"{gid}:action", "kind": "action", "start": t_action, "end": t_end, "parent": gid, "unit": u.uid},
            ]
            # every output of every pass is checked, untimed
            t_check = time.time()
            sc.setJobGroup(f"{gid}:check", u.uid)
            try:
                if u.kind == "query":
                    ok, msg = checker.query(u.uid, o.df)
                else:
                    ok, msg = checker.plan(u.uid, o)
            except Exception:
                ok, msg = False, traceback.format_exc(limit=3)
            rec.update(check=ok, check_msg=msg, ok=ok, check_s=time.time() - t_check)
            if u.uid == "migrate" and ok:
                rec["sink_bytes"] = gen.tree_bytes(o.extra["sink"])
            rec["persisted_rdds"] = len(sc._jsc.getPersistentRDDs())
            sc.setJobGroup("harness", "untimed")
            drop_cached()
            samples.append(rec)
        spans.append({"name": pass_id, "kind": "pass", "start": p_start, "end": time.time(), "parent": "run", "unit": None})
        passes.append(samples)

    result = {
        "t0": t0,
        "import_s": t_imported - t0,
        "get_spark_s": t_ready - t_imported,
        "setup_s": t_ready - t0,
        "jvm_peak_rss_mb": _jvm_peak_rss_mb(spark),
        "atexit_growth": atexit._ncallbacks() - atexit_start,
        "app_id": sc.applicationId,
        "spark_version": spark.version,
        "passes": passes,
        "spans": spans,
        "run_span": {"start": t0, "end": time.time()},
    }
    t_stop = time.time()
    spark.stop()
    result["stop_s"] = time.time() - t_stop
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
