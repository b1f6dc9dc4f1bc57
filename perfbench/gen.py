"""Seeded input generator for the benchmark workloads.

Every input is derived from the read-only fixture tables vendored under
``perfbench/fixtures`` (the engine's sf0.01 fixtures), in the style of
``tools/make_sf1.py``: a table is a union of PK-shifted clones with a small
per-clone perturbation, written as a multi-file parquet directory. The seed
picks the row order, the file split points, the perturbation and, for
``cdm_jobs``, the PK offset of each clone and the planted damage (missing,
mismatched and oversize rows). Nothing is downloaded and no Spark is needed.

Inputs are cached per (workload, seed): a directory that already holds a
``manifest.json`` is reused as it is. The manifest records row counts and
bytes on disk for every table, plus the planted sets the output checks use.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# Clone PK offsets are multiples of this stride, so residue classes the
# queries key on (mod 2, 4, 8, 10, 100, ...) survive the shift, and keys stay
# far below the range where tok(k) = k * 2654435761 overflows BIGINT.
SHIFT = 1_000_000
N_FILES = 4

# Clones per derived table. The query workload stays at fixture density
# (one clone); cdm_jobs scales its origin up so the jobs are long enough to
# time steadily.
CLONES = {
    "cdm_jobs": {"orders": 4, "lineitem": 1, "documents": 1},
    "dedup_ann": {"documents": 1, "embeddings": 1},
}

# cdm_jobs planted damage and job parameters (the checks read them back from
# the manifest).
MIGRATE_WHERE_PRICE = 150000.0
GUARDRAIL_KB = 1
SAMPLE_MOD = 10
SAMPLE_RESIDUE = 3
STREAM_BATCHES = 4
RESUME_SLICES = 8
STREAM_BATCH_ROWS = 4000


def _clone_offsets(rng: np.random.Generator, k: int) -> list[int]:
    base = rng.choice(np.arange(1, 500), size=k, replace=False)
    return [int(b) * SHIFT for b in base]


def _shuffled(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def _write_split(t: pa.Table, path: str, rng: np.random.Generator) -> None:
    """Write ``t`` as a directory of N_FILES files. The seed jitters the split
    points by up to 5% of a file so every seed lays the rows out differently
    while the scan parallelism stays the same."""
    os.makedirs(path, exist_ok=True)
    n = t.num_rows
    step = n / N_FILES
    cuts = [0]
    for i in range(1, N_FILES):
        jitter = int(rng.integers(-int(step * 0.05), int(step * 0.05) + 1))
        cuts.append(min(n, max(cuts[-1], int(i * step) + jitter)))
    cuts.append(n)
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        pq.write_table(t.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))


def _shift(t: pa.Table, col: str, offset: int) -> pa.Table:
    i = t.schema.get_field_index(col)
    return t.set_column(i, col, pc.add(t.column(col), pa.scalar(offset, t.schema.field(col).type)))


def _clone_orders(base: pa.Table, offsets: list[int], rng) -> pa.Table:
    parts = []
    for off in offsets:
        c = _shift(base, "o_orderkey", off)
        # per-clone perturbation: a seeded price shift of whole cents
        cents = float(rng.integers(1, 100)) / 100.0
        i = c.schema.get_field_index("o_totalprice")
        c = c.set_column(i, "o_totalprice", pc.add(c.column("o_totalprice"), cents))
        parts.append(c)
    return pa.concat_tables(parts)


def _clone_lineitem(base: pa.Table, offsets: list[int]) -> pa.Table:
    # The fixture repeats some (l_orderkey, l_linenumber) pairs; renumber
    # the lines of each order 1..n so the composite key is a real primary key.
    keys = base.column("l_orderkey").to_numpy()
    order = np.argsort(keys, kind="stable")
    sorted_keys = keys[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    pos = np.arange(len(keys)) - np.repeat(starts, np.diff(np.r_[starts, len(keys)]))
    line = np.empty(len(keys), dtype=np.int32)
    line[order] = pos + 1
    base = base.set_column(base.schema.get_field_index("l_linenumber"), "l_linenumber", pa.array(line))
    return pa.concat_tables([_shift(base, "l_orderkey", off) for off in offsets])


def _clone_documents(base: pa.Table, offsets: list[int], rng) -> pa.Table:
    parts = []
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    for off in offsets:
        c = _shift(base, "doc_id", off)
        # per-clone perturbation: every text gains the same seeded 4-char
        # suffix, so near-duplicate structure inside a clone is unchanged
        suffix = " " + "".join(rng.choice(letters, size=3))
        text = pc.binary_join_element_wise(c.column("text"), pa.scalar(suffix), "")
        c = c.set_column(c.schema.get_field_index("text"), "text", text)
        c = c.set_column(
            c.schema.get_field_index("n_chars"), "n_chars",
            pc.cast(pc.utf8_length(text), pa.int64()),
        )
        parts.append(c)
    return pa.concat_tables(parts)


def _clone_embeddings(base: pa.Table, offsets: list[int], rng) -> pa.Table:
    parts = []
    for off in offsets:
        c = _shift(base, "vec_id", off)
        # per-clone perturbation: dimension 0 nudged by a seeded epsilon
        # (distinct vectors, same geometry)
        mat = np.array(c.column("embedding").to_pylist(), dtype=np.float32)
        mat[:, 0] += np.float32(rng.uniform(0.5, 1.5) * 1e-3)
        emb = pa.array(list(mat), type=pa.list_(pa.float32()))
        c = c.set_column(c.schema.get_field_index("embedding"), "embedding", emb)
        parts.append(c)
    return pa.concat_tables(parts)


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _plant_damage(origin: pa.Table, rng, manifest: dict) -> pa.Table:
    """Target = origin minus planted missing rows, with planted mismatches
    (o_orderstatus set to 'X'); 0.4% of the rows each."""
    n = origin.num_rows
    picks = rng.choice(n, size=2 * (n // 250), replace=False)
    missing_idx, mismatch_idx = np.sort(picks[: n // 250]), np.sort(picks[n // 250:])
    keys = origin.column("o_orderkey").to_numpy()
    keep = np.ones(n, dtype=bool)
    keep[missing_idx] = False
    status = np.array(origin.column("o_orderstatus").to_pylist(), dtype=object)
    status[mismatch_idx] = "X"
    target = origin.set_column(
        origin.schema.get_field_index("o_orderstatus"), "o_orderstatus",
        pa.array(status, type=pa.string()),
    ).filter(pa.array(keep))
    manifest["planted"] = {
        "missing": sorted(int(k) for k in keys[missing_idx]),
        "mismatch": sorted(int(k) for k in keys[mismatch_idx]),
    }
    return target


def _plant_oversize(docs: pa.Table, rng, manifest: dict) -> pa.Table:
    """Pad a seeded set of documents past the guardrail threshold."""
    n_over = int(rng.integers(8, 17))
    idx = set(int(i) for i in rng.choice(docs.num_rows, size=n_over, replace=False))
    limit = GUARDRAIL_KB * 1024
    texts = docs.column("text").to_pylist()
    for i in idx:
        pad = int(rng.integers(1, 400))
        while len(texts[i].encode()) <= limit + pad:
            texts[i] = texts[i] + " " + texts[i]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(texts))
    flags = 0
    for c in ("text", "lang", "source"):
        flags += int(pc.sum(pc.greater(pc.binary_length(docs.column(c)), limit)).as_py() or 0)
    manifest["guardrail_flags"] = flags
    return docs


def generate(workload: str, seed: int, out_root: str) -> tuple[str, dict]:
    """Materialise the inputs of ``workload`` for ``seed`` under ``out_root``
    (reused when already there). Returns (input dir, manifest)."""
    if workload not in CLONES:
        raise ValueError(f"unknown workload {workload!r}")
    out = os.path.join(out_root, f"{workload}-{seed}")
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as fh:
            return out, json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, sorted(CLONES).index(workload)])
    manifest: dict = {"workload": workload, "seed": seed, "tables": {}}
    clones = CLONES[workload]

    for name in TABLES:
        src = os.path.join(FIXTURES, f"{name}.parquet")
        dst = os.path.join(tmp, f"{name}.parquet")
        k = clones.get(name)
        if not k:
            shutil.copyfile(src, dst)
            continue
        base = pq.read_table(src).replace_schema_metadata(None)
        # Query keys pick fixed id ranges (e.g. ``vec_id < 5`` as the top-k
        # query set), so the query workload keeps the fixture's keys.
        offsets = _clone_offsets(rng, k) if workload == "cdm_jobs" else [0] * k
        if name == "orders":
            t = _clone_orders(base, offsets, rng)
        elif name == "lineitem":
            t = _clone_lineitem(base, offsets)
        elif name == "documents":
            t = _clone_documents(base, offsets, rng)
        else:
            t = _clone_embeddings(base, offsets, rng)
        t = _shuffled(t, rng)
        if workload == "cdm_jobs" and name == "documents":
            t = _plant_oversize(t, rng, manifest)
        _write_split(t, dst, rng)
        if workload == "cdm_jobs" and name == "orders":
            target = _plant_damage(t, rng, manifest)
            _write_split(_shuffled(target, rng), os.path.join(tmp, "orders_target.parquet"), rng)
            manifest["migrate_rows"] = int(
                pc.sum(pc.greater_equal(t.column("o_totalprice"), MIGRATE_WHERE_PRICE)).as_py()
            )
            # micro-batch files for the streaming unit: seeded disjoint
            # slices of the origin, one file per batch
            sdir = os.path.join(tmp, "stream")
            os.makedirs(sdir)
            rows = rng.permutation(t.num_rows)[: STREAM_BATCHES * STREAM_BATCH_ROWS]
            expect = 0
            for b in range(STREAM_BATCHES):
                part = t.take(pa.array(rows[b * STREAM_BATCH_ROWS:(b + 1) * STREAM_BATCH_ROWS]))
                pq.write_table(part, os.path.join(sdir, f"batch-{b:03d}.parquet"))
                expect += int(pc.sum(pc.greater_equal(part.column("o_totalprice"), MIGRATE_WHERE_PRICE)).as_py())
            manifest["stream_rows"] = expect
        if name == "lineitem":
            manifest["lineitem_rows"] = t.num_rows
            manifest["resume_failed"] = sorted(
                int(s) for s in rng.choice(RESUME_SLICES, size=2, replace=False)
            )

    for name in TABLES + (["orders_target"] if workload == "cdm_jobs" else []):
        p = os.path.join(tmp, f"{name}.parquet")
        manifest["tables"][name] = {
            "rows": pq.ParquetDataset(p).read(columns=[]).num_rows,
            "bytes": tree_bytes(p),
        }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, out)
    return out, manifest
