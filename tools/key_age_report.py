#!/usr/bin/env python3
"""Driver-window rotation staleness audit (judge r11 #8).

The driver verifies the FIRST 50 registry keys each round; the registry
orders keys so never-driver-verified keys lead and the rest ascend by the
round of their last driver row (per-key max over CORRECTNESS_r*.json).
This tool proves the rotation bounds staleness: it emits the per-key
last-driver-verified round, the staleness histogram, and the max-staleness
metric, and appends one summary JSON line to PROGRESS.jsonl so every
round's ledger records the bound.

Usage:
    python tools/key_age_report.py [--repo /root/repo] [--round N]
                                   [--no-append] [--per-key]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time


def key_last_rounds(repo: str) -> dict[str, int]:
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            data = json.load(fh)
        for key, row in data.items():
            if not isinstance(row, dict):
                continue
            # count only GREEN driver rows — a red row is not verification.
            # Oracled keys: rows+hash. Rows-only keys: the driver records
            # err='no_oracle' with the weaker ran-and-produced-rows check.
            ok = (row.get("rows_match") and row.get("hash_match")) or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if ok:
                last[key] = max(last.get(key, 0), rnd)
    return last


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--round", type=int, default=None,
                    help="current round (default: max CORRECTNESS round)")
    ap.add_argument("--no-append", action="store_true",
                    help="print only; do not append to PROGRESS.jsonl")
    ap.add_argument("--per-key", action="store_true",
                    help="print the full (key, round) table")
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    from cassandra_data_migrator_spark.queries import queries

    declared = list(queries().keys())
    last = key_last_rounds(args.repo)
    cur = args.round if args.round is not None else max(last.values())

    ages = {}
    never = []
    for k in declared:
        if k in last:
            ages[k] = cur - last[k]
        else:
            never.append(k)
    hist: dict[int, int] = {}
    for a in ages.values():
        hist[a] = hist.get(a, 0) + 1

    if args.per_key:
        for k in declared:
            print(f"{k}: r{last[k]}" if k in last else f"{k}: never")
    oldest = max(ages.values()) if ages else 0
    summary = {
        "ts": time.time(),
        "kind": "key_age_report",
        "round": cur,
        "declared_keys": len(declared),
        "driver_verified_keys": len(ages),
        "never_driver_verified": sorted(never),
        "staleness_histogram": {str(a): hist[a] for a in sorted(hist)},
        "max_staleness_rounds": oldest,
        "stale_bound_ok": oldest < 6,
    }
    print(json.dumps(summary))
    if not args.no_append:
        with open(os.path.join(args.repo, "PROGRESS.jsonl"), "a") as fh:
            fh.write(json.dumps(summary) + "\n")


if __name__ == "__main__":
    main()
