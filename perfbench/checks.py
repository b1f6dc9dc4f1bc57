"""Output checks. A unit whose check fails counts as failed.

Query units are compared with their DuckDB ``oracle_sql()`` on the same
generated inputs, normalised the way ``tools/parity_check.py`` does (columns
sorted by name, rows sorted, floats rounded to 4 dp). Keys without an oracle
get a rows-only check. The ``cdm_jobs`` units are checked exactly against the
damage the generator planted.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pyarrow.parquet as pq

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parity_norm():
    spec = importlib.util.spec_from_file_location(
        "parity_check", os.path.join(ROOT, "tools", "parity_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._norm


def queries_nonempty(rows: list[dict]) -> bool:
    """Recall audits report ``n_brute``, the exact neighbours of their query
    set; an empty query set passes its recall floor vacuously, so it fails
    the check instead."""
    return all(r["n_brute"] > 0 for r in rows if "n_brute" in r)


class Checker:
    def __init__(self, spark, input_dir: str, manifest: dict):
        self.spark, self.input_dir, self.manifest = spark, input_dir, manifest
        self._con = None
        self._oracles = None
        self._norm = None
        self._expected: dict = {}  # per key or unit, computed on first use

    # -- query units ------------------------------------------------------
    def _duck(self):
        if self._con is None:
            import duckdb

            from cassandra_data_migrator_spark.queries import oracle_sql

            self._con = duckdb.connect()
            for t in gen.TABLES:
                p = os.path.join(self.input_dir, f"{t}.parquet")
                glob = f"{p}/*.parquet" if os.path.isdir(p) else p
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
            self._oracles = oracle_sql()
            self._norm = _parity_norm()
        return self._con

    def query(self, key: str, df) -> tuple[bool, str]:
        con = self._duck()
        rows = [r.asDict() for r in df.collect()]
        if not queries_nonempty(rows):
            return False, f"empty query set: n_brute {[r['n_brute'] for r in rows]}"
        if key not in self._oracles:
            return (len(rows) > 0, f"rows-only: {len(rows)} rows")
        cols = sorted(df.columns)
        srows = self._norm(rows, cols)
        if key not in self._expected:
            records = con.execute(self._oracles[key]).fetchdf().to_dict("records")
            self._expected[key] = self._norm(records, cols)
        orows = self._expected[key]
        if srows == orows:
            return True, f"oracle: {len(srows)} rows match"
        diff = next(((a, b) for a, b in zip(srows, orows) if a != b), None)
        return False, f"oracle mismatch: spark {len(srows)} rows, oracle {len(orows)}; first diff {diff}"

    # -- cdm_jobs units ---------------------------------------------------
    def plan(self, uid: str, o) -> tuple[bool, str]:
        return getattr(self, f"_{uid}")(o)

    def _migrate(self, o):
        want = self.manifest["migrate_rows"]
        got = o.extra["counters"]["read_cnt"]
        sink = self.spark.read.parquet(o.extra["sink"])
        n = sink.count()
        cols = set(sink.columns)
        ok = got == want and n == want and {"migrated_by", "status", "total_price"} <= cols
        ok = ok and "o_orderstatus" not in cols
        return ok, f"read_cnt {got}, sink rows {n}, expected {want}, columns {sorted(cols)}"

    def _resume_rows(self) -> int:
        """Rows of lineitem whose token falls in the seeded failed slices."""
        from cassandra_data_migrator_spark.functions.tokens import (
            TOKEN_MIN, TOKEN_MODULUS, TOKEN_MULTIPLIER, slice_bounds,
        )

        keys = pq.read_table(
            os.path.join(self.input_dir, "lineitem.parquet"), columns=["l_orderkey"]
        ).column(0).to_numpy().astype(np.int64)
        toks = (keys * TOKEN_MULTIPLIER) % TOKEN_MODULUS + TOKEN_MIN
        lows = np.array([lo for _, lo, _ in slice_bounds(gen.RESUME_SLICES)])
        slice_of = np.searchsorted(lows, toks, side="right") - 1
        return int(np.isin(slice_of, self.manifest["resume_failed"]).sum())

    def _migrate_resume(self, o):
        total = self.manifest["lineitem_rows"]
        if "resume" not in self._expected:
            self._expected["resume"] = self._resume_rows()
        want_resume = self._expected["resume"]
        first, second = o.extra["counters"]
        final = self.spark.read.parquet(o.extra["sink"])
        n = final.count()
        distinct = final.select("l_orderkey", "l_linenumber").distinct().count()
        ok = (
            first["read_cnt"] == total and second["read_cnt"] == want_resume
            and n == total and distinct == total and o.extra["pending"] == []
        )
        return ok, (
            f"first {first['read_cnt']}/{total}, resume {second['read_cnt']}/{want_resume}, "
            f"final {n} rows, {distinct} distinct PKs, pending {o.extra['pending']}"
        )

    def _planted(self):
        p = self.manifest["planted"]
        return {(k, "missing") for k in p["missing"]} | {(k, "mismatch") for k in p["mismatch"]}

    def _report(self, o):
        return {(r["o_orderkey"], r["status"]) for r in o.df.select("o_orderkey", "status").collect()}

    def _validate_full(self, o):
        got, want = self._report(o), self._planted()
        return got == want, f"{len(got)} reported, {len(want)} planted, {len(got ^ want)} differ"

    def _planted_in_sample(self):
        from pyspark.sql import functions as F

        planted = self._planted()
        keys = self.spark.createDataFrame([(k,) for k in {k for k, _ in planted}], "o_orderkey BIGINT")
        sampled = {
            r[0] for r in keys.filter(
                F.pmod(F.xxhash64("o_orderkey"), F.lit(gen.SAMPLE_MOD)) == gen.SAMPLE_RESIDUE
            ).collect()
        }
        return {(k, s) for k, s in planted if k in sampled}

    def _validate_sampled(self, o):
        if "sampled" not in self._expected:
            self._expected["sampled"] = self._planted_in_sample()
        want = self._expected["sampled"]
        got = self._report(o)
        return got == want and len(want) > 0, f"{len(got)} reported, {len(want)} planted in sample"

    def _validate_prefilter(self, o):
        got = self._report(o)
        missing = {(k, "missing") for k in self.manifest["planted"]["missing"]}
        ok = len(got) > 0 and got <= missing
        return ok, f"{len(got)} reported, {len(got - missing)} outside the planted missing set"

    def _guardrail(self, o):
        rows = o.df.collect()
        want = self.manifest["guardrail_flags"]
        limit = gen.GUARDRAIL_KB * 1024
        ok = len(rows) == want and all(r["col_bytes"] > limit for r in rows)
        return ok, f"{len(rows)} flags, expected {want}"

    def _streaming(self, o):
        n = self.spark.read.parquet(o.extra["sink"]).count()
        batches = len(o.extra["progress"])
        want = self.manifest["stream_rows"]
        ok = n == want and batches == gen.STREAM_BATCHES
        return ok, f"{n} rows in {batches} batches, expected {want} in {gen.STREAM_BATCHES}"
