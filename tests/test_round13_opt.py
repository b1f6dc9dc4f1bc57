"""Round-13 optimization contracts.

The r12 verdict (item #1) mandated that bench.py charge every key its own
artifact derivation: _session_artifact memos must be purgeable, and a purge
must (a) force the next consumer to rebuild and (b) leave results identical.
"""

from __future__ import annotations

import os
import tempfile


def test_purge_forces_rebuild_with_identical_results(spark, sf_dir):
    from cassandra_data_migrator_spark import queries as q
    from cassandra_data_migrator_spark.queries import _shared

    first = q.queries()["dedup_ngram"](spark, sf_dir).collect()
    assert _shared._SESSION_ARTIFACTS, "consumer should have built an artifact"
    session_dir = os.path.join(
        tempfile.gettempdir(),
        f"cdm_shared_{spark.sparkContext.applicationId}",
    )
    assert os.path.isdir(session_dir)

    q.purge_session_artifacts(spark)
    assert not _shared._SESSION_ARTIFACTS
    assert not os.path.isdir(session_dir)

    again = q.queries()["dedup_ngram"](spark, sf_dir).collect()
    assert _shared._SESSION_ARTIFACTS, "rebuild must re-register the artifact"
    key = lambda r: tuple(sorted(r.asDict().items()))
    assert sorted(first, key=key) == sorted(again, key=key)


def test_purge_is_idempotent_on_fresh_session(spark):
    from cassandra_data_migrator_spark import queries as q

    q.purge_session_artifacts(spark)
    q.purge_session_artifacts(spark)  # no artifacts, no dir — must not raise


def test_artifact_cleanup_hook_registered_once_per_session_dir(spark, monkeypatch):
    """Five build→purge cycles register ONE atexit rmtree for the session
    artifact dir, not a fresh hook after every purge."""
    import atexit

    from cassandra_data_migrator_spark.queries import _shared

    session_dir = os.path.join(
        tempfile.gettempdir(),
        f"cdm_shared_{spark.sparkContext.applicationId}",
    )
    registered = []
    monkeypatch.setattr(
        atexit, "register", lambda fn, *args, **kw: registered.append(args)
    )
    monkeypatch.setattr(_shared, "_SCRATCH_REGISTERED", set())
    for _ in range(5):
        _shared._session_artifact(spark, "atexit_probe", lambda: spark.range(3))
        _shared.purge_session_artifacts(spark)
    assert registered.count((session_dir,)) == 1
