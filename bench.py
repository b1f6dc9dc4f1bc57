#!/usr/bin/env python3
"""Benchmark harness (BASELINE.md protocol).

Runs every declared query at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], 3 runs each, median wall-clock per query, plus the
migrate_rowcount end-to-end rows/sec throughput number. Prints ONE JSON line:

  {"metric": "total_query_sec", "value": N, "unit": "sec",
   "queries": {key: sec, ...}, "sf": 0.1, "rows_per_sec": R, ...}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

RUNS = int(os.environ.get("BENCH_RUNS", "3"))
# r13 noise control (r12 verdict #7): BENCH_REPEAT_SWEEPS=k repeats the whole
# key loop k times and reports each key's MIN across sweeps — min-of-medians
# is contention-robust (a contended window inflates a sweep; it cannot
# deflate one). Default 1 keeps the driver protocol unchanged.
REPEAT_SWEEPS = int(os.environ.get("BENCH_REPEAT_SWEEPS", "1"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
STDOUT_BUDGET = 1800  # chars; the driver tail-captures the last 2000 of stdout


def cpu_capacity_probe() -> float:
    """Fixed single-core pure-python probe (~0.5 s on an idle box): the
    wall-clock of 10M loop iterations, recorded into the bench JSON so a
    contended run is self-labeling (r12 verdict #7 — the r12 sweep carried a
    window where untouched pure-JVM keys read 4-7x; comparisons across
    rounds can now quote the probe instead of guessing)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i
    assert acc  # keep the loop un-optimizable
    return round(time.perf_counter() - t0, 4)


def compact_stdout_line(result: dict, timings: dict, full_sweep_file: str) -> str:
    """The stdout contract line: the aggregate numbers plus EVERY key's
    timing, plus as many NAMED per-query timings as fit under STDOUT_BUDGET
    (slowest first; the full named table is in ``full_sweep_file``). The
    driver captures only the TAIL of stdout, so a line carrying all ~160
    full key names never parses (names alone exceed the window; r01-r03
    recorded ``parsed: null``) — fitting the window is part of the
    contract, pinned by tests/test_bench_contract.py.

    Complete coverage rides in ``q_cs`` (round-4 verdict #7): centisecond
    ints for ALL keys in REGISTRY ORDER — the key list is exactly
    ``list(queries())``, deterministic, so names are recoverable without
    any of them spending window chars. ~5 chars/key instead of ~22."""
    compact = dict(result)
    compact["queries_total_n"] = len(timings)
    compact["full_sweep_file"] = full_sweep_file
    compact["q_cs"] = [int(round(timings[k] * 100)) for k in timings]
    compact["q_cs_unit"] = "centisec"
    compact["q_cs_order"] = "registry"
    by_cost = sorted(timings, key=lambda k: (-timings[k], k))
    keep = len(by_cost)
    while True:
        compact["queries"] = {k: timings[k] for k in by_cost[:keep]}
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= STDOUT_BUDGET:
            return line
        if keep == 0:
            if "q_cs" in compact:
                # registry too large even for the int array (not reachable
                # at the current ~160 keys): drop it; BENCH_FULL.json still
                # carries the complete named table.
                del compact["q_cs"], compact["q_cs_unit"], compact["q_cs_order"]
                continue
            return line
        keep -= max(1, (len(line) - STDOUT_BUDGET) // 30)
        keep = max(keep, 0)


def main() -> None:
    from cassandra_data_migrator_spark.session import get_spark
    from cassandra_data_migrator_spark import queries as q

    spark = get_spark("cdm-spark-bench", cpus=CPUS)
    sf = SF_DIR.rstrip("/")
    sf_label = os.path.basename(sf).replace("sf", "")

    def _drop_cached_blocks() -> None:
        # persist()/localCheckpoint() blocks from a finished key are dead
        # weight for every later key; without this, 69 keys x 3 runs
        # accumulate cached blocks and memory/GC pressure inflates later
        # timings (observed +27% on the full sweep vs isolated runs).
        # Cleanup runs BETWEEN keys, not between runs: within a key, runs 2-3
        # legitimately reuse the cache run 1 built (CacheManager matches by
        # analyzed plan), mirroring a real session re-issuing the query.
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    # Standing parquet artifacts (session.artifact) are built once per
    # application and re-read by every later consumer, so without a purge an
    # artifact-backed key's number would be the cost of a parquet filter, not
    # of its declared derivation. Purging the artifacts before EVERY timed
    # run makes each run pay the full build; results are unchanged (builds
    # are deterministic). Memos (training) survive the purge.
    _purge_artifacts = q.purge_session_artifacts

    registry = q.queries()
    # SPARK_GRAFT_KEYS=k1,k2 restricts the sweep to named keys — the
    # isolated-session re-measure path (tools/bench_compare.py --isolate):
    # a key flagged in a full contended sweep is re-timed alone in a fresh
    # session before being declared a real regression (sub-second keys
    # carry ±50% in-sweep noise, BASELINE.md r03/r04).
    keys_env = os.environ.get("SPARK_GRAFT_KEYS", "")
    if keys_env:
        want = [k.strip() for k in keys_env.split(",") if k.strip()]
        unknown = sorted(set(want) - set(registry))
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_KEYS unknown keys: {unknown}")
        registry = {k: registry[k] for k in want}
    # Untimed warm-up: the first timed key otherwise absorbs session JIT /
    # codegen / parquet-footer warm-up (measured ~2x inflation on whatever
    # key sits first in the registry). One scan+agg+join pass touches the
    # machinery every later key reuses.
    from cassandra_data_migrator_spark.sources.parquet import load_table as _lt

    warm_o = _lt(spark, sf, "orders")
    warm_li = _lt(spark, sf, "lineitem")
    (
        warm_li.join(warm_o, warm_li.l_orderkey == warm_o.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # the registry head reads documents — warm its footer/scan path too, or
    # whatever documents-key sits first absorbs the cold read (measured
    # 0.31 -> 0.79 s on training_order_shuffle when it moved to the head)
    _lt(spark, sf, "documents").write.format("noop").mode("overwrite").save()
    # r13 (r12 verdict #4): the FIRST cache materialization in a session pays
    # a one-off ~3.5 s warmup of the cache-write path (measured r12, whatever
    # storage level goes first). Keys that persist an intermediate (kn/lm
    # family) were charging that session constant to their run 1; absorb it
    # here in the untimed preamble instead.
    _pw = warm_o.limit(1024).persist()
    _pw.write.format("noop").mode("overwrite").save()
    _pw.unpersist()
    _drop_cached_blocks()
    _purge_artifacts(spark)
    cpu_probe = cpu_capacity_probe()

    timings: dict[str, float] = {}
    for _sweep in range(REPEAT_SWEEPS):
        for key, fn in registry.items():
            samples = []
            for _ in range(RUNS):
                # every run pays its own artifact derivations (r12 verdict #1)
                _purge_artifacts(spark)
                t0 = time.perf_counter()
                df = fn(spark, sf)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            med = round(statistics.median(samples), 4)
            timings[key] = min(med, timings.get(key, med))
            _drop_cached_blocks()

    # migrate throughput: end-to-end rows/sec of the migrate pipeline at this
    # sf — only meaningful when migrate_rowcount was actually timed (a
    # SPARK_GRAFT_KEYS subset without it must not emit a 1e-9-denominator
    # garbage metric, nor pay the orders count() scan)
    mig = timings.get("migrate_rowcount")
    if mig:
        from cassandra_data_migrator_spark.sources.parquet import load_table

        n_rows = load_table(spark, sf, "orders").count()
        rows_per_sec = round(n_rows / mig, 1)
    else:
        rows_per_sec = None

    result = {
        "metric": "total_query_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf_label) if sf_label.replace(".", "").isdigit() else sf_label,
        "rows_per_sec": rows_per_sec,
        "cpus": CPUS,
        "runs": RUNS,
        "spark_version": spark.version,
        # explicit provenance (advice r07, tightened r09): only a FEW-key
        # SPARK_GRAFT_KEYS run is an uncontended isolated re-measure; a
        # many-key subset run is still a contended sweep (~+27% in-sweep
        # inflation) and must not trigger bench_compare's 1.27x deflation.
        # key_count is recorded so the comparison can audit the label.
        "provenance": "isolated" if keys_env and len(registry) <= 3 else "sweep",
        "key_count": len(registry),
        # r13 self-labeling noise controls (r12 verdict #7): host capacity at
        # sweep start + how many sweeps the per-key MIN was taken over.
        "cpu_probe_sec": cpu_probe,
        "repeat_sweeps": REPEAT_SWEEPS,
        # per-run artifact purge: artifact-backed keys pay their own
        # derivation; the training memos are exempt and survive the purge
        # (see purge_session_artifacts).
        "artifact_purge": "per_run",
        "training_memo": "per_session",
    }
    spark.stop()
    # The driver captures only the TAIL (last ~2000 chars) of stdout, so a
    # JSON line carrying all 150 per-query numbers never parses (r01-r03:
    # `parsed: null`). Persist the FULL sweep to BENCH_FULL.json, then print
    # a stdout line guaranteed to fit the capture window: the aggregate
    # numbers plus as many per-query timings as fit under the budget,
    # slowest keys first (they carry the signal; BENCH_FULL.json has the
    # rest).
    out_file = os.environ.get("BENCH_OUT")
    if not out_file:
        # BENCH_FULL.json is the sf0.1-protocol artifact (BASELINE.md); a
        # verification run at another scale must not clobber it (one did,
        # mid round 6) — off-protocol sweeps land in a scale-suffixed file
        # unless BENCH_OUT says otherwise.
        here = os.path.dirname(os.path.abspath(__file__))
        on_protocol = (
            isinstance(result["sf"], float) and abs(result["sf"] - 0.1) < 1e-9
        )
        if keys_env:
            name = "BENCH_SUBSET.json"  # isolated re-measures, never the sweep
        elif on_protocol:
            name = "BENCH_FULL.json"
        else:
            name = f"BENCH_FULL_sf{result['sf']}.json"
        out_file = os.path.join(here, name)
    try:
        with open(out_file, "w") as fh:
            json.dump(result, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line is still the contract
    sys.stdout.flush()
    print(compact_stdout_line(result, timings, os.path.basename(out_file)))


if __name__ == "__main__":
    main()
