#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdm_jobs,dedup_ann}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. It generates the workload's inputs from the
seed (cached per seed), then times the workload in fresh processes on
``local[N]`` (N = $SPARK_GRAFT_CPUS, else min(4, nproc)):

- ``--trace 0``: one process does a cold pass and the warm passes; the last
  line of stdout is a JSON object with the end-to-end metrics.
- ``--trace 1``: one untraced process does a cold pass, then a process with
  the Spark event log on does the cold and warm passes; the last line holds
  the per-layer metrics.

Everything the run writes (inputs, Spark scratch, temp files, the event log
and the span file) stays under ``.perfbench_work`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
CHILD_TIMEOUT_S = 170


def cpu_probe_sec() -> float:
    """Fixed single-core pure-Python probe, the same loop as bench.py's."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i
    assert acc
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's vCPU time stolen by the hypervisor in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop whatever the child left in its process group (the JVM, Python
    workers) and wait until every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_worker(args, cpus: int, input_dir: str, tag: str, passes: int,
               keys: list[str], eventlog_dir: str | None = None) -> dict:
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        # same str hashing, so same set and dict order, in every run
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(cpus),
    )
    # the session's own defaults (heap size included) stay as they ship
    for name in ("PYSPARK_SUBMIT_ARGS", "CDM_DRIVER_MEMORY", "SPARK_GRAFT_MASTER"):
        env.pop(name, None)
    if eventlog_dir:
        os.makedirs(eventlog_dir)
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{eventlog_dir} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
        )
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--input-dir", input_dir,
        "--scratch", os.path.join(run_dir, "scratch"), "--passes", str(passes),
        "--keys", ",".join(keys), "--cpus", str(cpus), "--out", out,
    ]
    env["PERFBENCH_T0"] = repr(time.time())
    proc = subprocess.Popen(cmd, env=env, cwd=run_dir, start_new_session=True,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    try:
        log, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _stop_group(proc)
        proc.communicate()
        raise SystemExit(f"worker {tag} exceeded {CHILD_TIMEOUT_S}s")
    finally:
        _stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        tail = log.decode(errors="replace").splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"worker {tag} failed with exit code {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "cassandra_data_migrator_spark")):
        raise SystemExit("engine package not found next to the benchmark")
    nproc = len(os.sched_getaffinity(0))
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS") or 4), nproc)
    probe = cpu_probe_sec()
    stat0 = cpu_times()
    t_gen = time.time()
    input_dir, manifest = gen.generate(args.workload, args.seed, os.path.join(WORK, "inputs"))
    gen_s = time.time() - t_gen
    keys = workloads.KEYS.get(args.workload, [])
    passes = max(2, int(args.seconds // workloads.PASS_BUDGET_S))
    if args.trace:
        passes = workloads.TRACED_PASSES
    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    print(f"host: nproc={nproc} SPARK_GRAFT_CPUS={cpus} cpu_probe_sec={probe:.4f}")
    print(f"inputs: {input_dir} ({gen_s:.2f}s) "
          + ", ".join(f"{t} {v['rows']} rows/{v['bytes']} B" for t, v in manifest["tables"].items()
                      if t in ("orders", "orders_target", "lineitem", "documents", "embeddings")))

    if args.trace:
        untraced = run_worker(args, cpus, input_dir, tag + "-cold", 0, keys)
        untraced_cold = metrics.cold_s(untraced)
        elog = os.path.join(WORK, "runs", tag, "eventlog")
        res = run_worker(args, cpus, input_dir, tag, passes, keys, eventlog_dir=elog)
        logs = [os.path.join(elog, f) for f in os.listdir(elog)]
        with open(logs[0]) as fh:
            job_totals, job_spans = eventlog.parse(fh)
        phases = [s for s in res["spans"] if s["kind"] in ("build", "action")]
        by_group = eventlog.by_phase(job_totals, job_spans, phases)
        spans = res["spans"] + job_spans
        spans.append({"name": "run", "kind": "run", "parent": None, "unit": None, **res["run_span"]})
        selfs = eventlog.self_times(spans)
        with open(os.path.join(WORK, "runs", tag, "spans.json"), "w") as fh:
            json.dump([dict(s, self_s=selfs[s["name"]]) for s in spans], fh)
        values = metrics.per_layer(res, untraced_cold, by_group, manifest)
        units = metrics.PER_LAYER
        _print_trace(res, spans, selfs, metrics.exec_split(res, by_group))
    else:
        res = run_worker(args, cpus, input_dir, tag, passes, keys)
        values, tail_info = metrics.end_to_end(res, [res["setup_s"]])
        units = {n: metrics.END_TO_END[n] for n in metrics.GATED}
        print(f"unit_tail_s is p{tail_info['unit_tail_percentile']:.1f} "
              f"of {tail_info['unit_samples']} warm unit samples")
        for name in ("unit_p50_s", "unit_tail_s"):
            print(f"{name}: {values[name]:.6g} s")

    attempted, failed, why = metrics.failures(res)
    if args.trace:
        a, f, w = metrics.failures(untraced)
        attempted, failed, why = attempted + a, failed + f, why + w
    print(f"passes: 1 cold + {len(res['passes']) - 1} warm over {len(res['passes'][0])} units")
    for r in res["passes"][-1]:
        n_ok = sum(bool(x.get("check")) for p in res["passes"] for x in p if x["uid"] == r["uid"])
        print(f"check {r['uid']}: ok in {n_ok} of {len(res['passes'])} passes, "
              f"last: {r.get('check_msg') or 'raised'}")
    for w in why:
        print(f"failed: {w}")
    print(f"failed_ratio: {failed / attempted:.4f} ratio ({failed}/{attempted})")
    for name, unit in units.items():
        print(f"{name}: {values[name]:.6g} {unit}")
    print(f"host: vCPU steal share during the run {steal_share(stat0, cpu_times()):.3f}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result))
    return 0


def _print_trace(res: dict, spans: list[dict], selfs: dict, split: dict) -> None:
    by_kind: dict[str, float] = {}
    for s in spans:
        by_kind[s["kind"]] = by_kind.get(s["kind"], 0.0) + selfs[s["name"]]
    print("self time by span kind: " + ", ".join(f"{k} {v:.3f}s" for k, v in sorted(by_kind.items())))
    for ph, vals in split.items():
        print(f"exec {ph}: " + ", ".join(f"{k} {v:.4g}" for k, v in vals.items()))
    cold = {r["uid"]: r for r in res["passes"][0] if r["ok"]}
    print("unit cold_s warm_s(median) build_s action_s build_jobs action_jobs")
    for uid, r in cold.items():
        warm = sorted(x["total_s"] for p in res["passes"][1:] for x in p if x["uid"] == uid and x["ok"])
        last = next(x for x in res["passes"][-1] if x["uid"] == uid)
        med = warm[len(warm) // 2] if warm else float("nan")
        print(f"  {uid} {r['total_s']:.3f} {med:.3f} {last.get('build_s', 0):.3f} "
              f"{last.get('action_s', 0):.3f} {last.get('build', {}).get('jobs')} "
              f"{last.get('action', {}).get('jobs')}")


if __name__ == "__main__":
    sys.exit(main())
