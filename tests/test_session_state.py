"""Session-scoped state has one owner: the per-application record in
``session.py``. It holds the memos, the standing artifact tables and one
scratch root; ``purge_session_artifacts`` clears only the artifacts."""

from __future__ import annotations

import ast
import atexit
import os
import shutil
import tempfile
from pathlib import Path

from cassandra_data_migrator_spark import queries as q
from cassandra_data_migrator_spark import session

PACKAGE_DIR = Path(session.__file__).parent


def _rows(df):
    return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())


def test_purge_forces_rebuild_with_identical_results(spark, sf_dir):
    first = _rows(q.queries()["dedup_ngram"](spark, sf_dir))
    record = session._app_record(spark)
    assert record.artifacts, "consumer should have built an artifact"
    artifact_dir = session.scratch_dir(spark, "artifacts")
    assert os.listdir(artifact_dir)

    q.purge_session_artifacts(spark)
    assert not record.artifacts
    assert not os.path.isdir(artifact_dir)

    again = _rows(q.queries()["dedup_ngram"](spark, sf_dir))
    assert record.artifacts, "rebuild must re-register the artifact"
    assert first == again


def test_purge_is_idempotent_on_fresh_session(spark):
    q.purge_session_artifacts(spark)
    q.purge_session_artifacts(spark)  # no artifacts, no dir — must not raise


def test_purge_keeps_memos_and_scratch_dirs(spark):
    """The purge clears the artifacts and nothing else: memos and scratch
    dirs outside the artifact subtree survive it."""
    marker = object()
    assert session.memo(spark, "purge_probe", lambda: marker) is marker
    kept = session.scratch_dir(spark, "purge_probe")
    q.purge_session_artifacts(spark)
    assert session.memo(spark, "purge_probe", object) is marker
    assert os.path.isdir(kept)


def test_artifact_cleanup_hook_registered_once_per_session_dir(spark, monkeypatch):
    """Five build→purge cycles register no further atexit hook and keep the
    one scratch root: the root is removed by the single hook session.py
    registers at import."""
    registered = []
    monkeypatch.setattr(
        atexit, "register", lambda fn, *args, **kw: registered.append(fn)
    )
    root = session.scratch_dir(spark)
    for _ in range(5):
        session.artifact(spark, "atexit_probe", lambda: spark.range(3))
        session.purge_session_artifacts(spark)
    assert registered == []
    assert session.scratch_dir(spark) == root


def test_scratch_root_is_private_and_keyed_by_fixture_path(spark, tmp_path):
    root = session.scratch_dir(spark)
    assert os.stat(root).st_mode & 0o777 == 0o700
    a = session.scratch_dir(spark, "probe", str(tmp_path / "x" / "fx"))
    b = session.scratch_dir(spark, "probe", str(tmp_path / "y" / "fx"))
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b) == os.path.join(root, "probe")


def test_long_lived_session_one_hook_one_root(spark, sf_dir, monkeypatch):
    """Keys that use artifacts, scratch dirs, binaryFile staging and the run
    tracker, run twice each with the per-run purge between them, register
    at most one atexit hook and leave one scratch root for the application."""
    keys = [
        "dedup_ngram",
        "json_roundtrip",
        "jsonl_quarantine",
        "binaryfile_ingest",
        "warc_ingest",
        "run_tracking_resume",
    ]
    registered = []
    monkeypatch.setattr(
        atexit, "register", lambda fn, *args, **kw: registered.append(fn)
    )
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    builders = q.queries()
    for _ in range(2):
        for key in keys:
            q.purge_session_artifacts(spark)
            builders[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
    root = session.scratch_dir(spark)
    new_dirs = {
        os.path.join(tmp, name)
        for name in set(os.listdir(tmp)) - before
        if name.startswith("cdm") and os.path.isdir(os.path.join(tmp, name))
    }
    assert len(registered) <= 1
    assert new_dirs <= {root}
    assert {"roundtrip", "jsonl", "binaryfile", "warc", "runs"} <= set(
        os.listdir(root)
    )


def test_training_memos_retrain_identically_after_record_drop(
    spark, sf_dir, monkeypatch
):
    """Memos survive the purge (no retraining on a warm run); a dropped
    record retrains the IVF quantizer and the PQ codebooks, with identical
    rows."""
    from cassandra_data_migrator_spark.operators import cluster
    from cassandra_data_migrator_spark.queries.ann_pq import PQ_BLOCKS

    builders = q.queries()
    keys = ("ivf_recall_audit", "pq_recall_audit")
    first = {k: _rows(builders[k](spark, sf_dir)) for k in keys}

    trained = []
    lloyd = cluster.lloyd_kmeans
    monkeypatch.setattr(
        cluster,
        "lloyd_kmeans",
        lambda *a, **kw: trained.append(1) or lloyd(*a, **kw),
    )
    q.purge_session_artifacts(spark)
    warm = {k: _rows(builders[k](spark, sf_dir)) for k in keys}
    assert trained == [], "a purge must not drop the training memos"

    session._drop_record()
    again = {k: _rows(builders[k](spark, sf_dir)) for k in keys}
    assert len(trained) == 1 + PQ_BLOCKS  # IVF cells, then one per PQ block
    assert first == warm == again


def test_prefix_filter_cache_bounded(spark, sf_dir):
    """The prefix filter holds ONE keyed slot in the session record: an
    identical invocation REUSES the persisted table (a naive eager
    unpersist measured a 3.35x key regression under the bench's repeated
    runs), while a different input evicts the previous copy."""
    from cassandra_data_migrator_spark.operators import dedup

    def slot():
        return session.memo(spark, "prefix_filter", dict)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dedup.prefix_filter_jaccard_pairs(docs).count()
    first = slot()["docs"]
    assert first.storageLevel.useMemory or first.storageLevel.useDisk
    # identical input -> same persisted table, still cached
    dedup.prefix_filter_jaccard_pairs(docs).count()
    assert slot()["docs"] is first
    assert first.storageLevel.useMemory or first.storageLevel.useDisk
    # different input (threshold changes the ordered-set prefix contract)
    dedup.prefix_filter_jaccard_pairs(docs, threshold=0.7).count()
    second = slot()["docs"]
    assert second is not first
    # the first input's copy has been released
    assert not (first.storageLevel.useMemory or first.storageLevel.useDisk)


def test_prefix_filter_cache_survives_stale_slot(spark, sf_dir):
    """A slot left by a STOPPED application must not break the first
    invocation in the next one: the new applicationId replaces the whole
    record, so the dead slot is dropped without touching its context."""
    from cassandra_data_migrator_spark.operators import dedup
    from cassandra_data_migrator_spark.sources.parquet import load_table

    class DeadDF:
        def unpersist(self, blocking=False):
            raise RuntimeError("py4j: SparkContext stopped")

    live = session._app_record(spark)
    session._record = session._AppRecord(
        "dead-app", memos={"prefix_filter": {"key": ("dead",), "docs": DeadDF()}}
    )
    try:
        docs = load_table(spark, sf_dir, "documents").limit(50)
        out = dedup.prefix_filter_jaccard_pairs(docs, threshold=0.8)
        assert out.count() >= 0  # must not raise through the eviction
        slot = session.memo(spark, "prefix_filter", dict)
        assert not isinstance(slot["docs"], DeadDF)
        slot["docs"].unpersist(blocking=False)
    finally:
        session._record = live


def test_stream_stage_keyed_by_fixture_path(spark, sf_dir, tmp_path):
    """Two fixtures that share a basename each stream their OWN events, and
    deleting one leaves the other stageable."""
    import pyarrow.parquet as pq

    from cassandra_data_migrator_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
    )

    events = pq.read_table(f"{sf_dir}/events.parquet")
    fixtures = {}
    for parent, n in (("a", 5), ("b", 9)):
        fx = tmp_path / parent / "fx"
        fx.mkdir(parents=True)
        pq.write_table(events.slice(0, n), str(fx / "events.parquet"))
        fixtures[parent] = (str(fx), n)

    def streamed(fx, tag):
        out = str(tmp_path / f"out_{tag}")
        run_available_now(
            read_events_stream(spark, fx), out, str(tmp_path / f"ckpt_{tag}")
        )
        return spark.read.parquet(out).count()

    for parent, (fx, n) in fixtures.items():
        assert streamed(fx, parent) == n
    shutil.rmtree(tmp_path / "a")
    fx, n = fixtures["b"]
    assert streamed(fx, "b_again") == n


def test_session_state_has_one_owner():
    """Outside session.py the package imports no atexit, reads no
    applicationId and keeps no module-level empty dict or set (the shape
    every per-application memo took before the record owned them)."""
    offences = []
    for path in sorted(PACKAGE_DIR.rglob("*.py")):
        if path == PACKAGE_DIR / "session.py":
            continue
        rel = path.relative_to(PACKAGE_DIR.parent)
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "applicationId":
                offences.append(f"{rel}:{node.lineno} reads applicationId")
            if isinstance(node, ast.Import):
                modules = [a.name for a in node.names]
            else:
                modules = [getattr(node, "module", None)]
            if "atexit" in modules:
                offences.append(f"{rel}:{node.lineno} imports atexit")
        for node in tree.body:
            if not isinstance(node, (ast.Assign, ast.AnnAssign)):
                continue
            value = node.value
            func = ast.unparse(value.func) if isinstance(value, ast.Call) else ""
            if (
                isinstance(value, ast.Dict) and not value.keys
                or func in {"dict", "set"} and not value.args
                or func.endswith("defaultdict")
            ):
                offences.append(f"{rel}:{node.lineno} module-level memo")
    assert not offences, offences
