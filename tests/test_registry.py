"""The query registry contract: ``KEYS`` declares each key once, every key
resolves to exactly one ``q_<key>`` builder, and every key either has a
DuckDB oracle or is declared rows-only."""

import ast
import re
from collections import Counter
from pathlib import Path

import pytest

from cassandra_data_migrator_spark import queries as q

QUERIES_DIR = Path(q.__file__).parent


def test_registry_unique_keys():
    """Each key is declared once, so a second, divergent declaration can
    never be silently shadowed."""
    dupes = sorted(k for k, n in Counter(q.KEYS).items() if n > 1)
    assert not dupes, f"duplicate KEYS entries: {dupes}"
    assert list(q.queries()) == list(q.KEYS)


def test_every_builder_declared_once():
    """Every top-level ``def q_*`` in the package is declared in KEYS, and
    no two modules define the same builder: no builder is unreachable."""
    defs = Counter(
        node.name[2:]
        for path in sorted(QUERIES_DIR.glob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_")
    )
    assert not [k for k, n in defs.items() if n > 1], "builder defined twice"
    assert set(defs) == set(q.KEYS), (
        f"undeclared builders: {sorted(set(defs) - set(q.KEYS))}; "
        f"keys without a builder: {sorted(set(q.KEYS) - set(defs))}"
    )


def test_missing_builder_raises_naming_key(monkeypatch):
    monkeypatch.setattr(q, "KEYS", (*q.KEYS, "no_such_key"))
    with pytest.raises(LookupError, match=r"no q_<key> builder .*no_such_key"):
        q.queries()


def test_coverage_totals_match_registry():
    """COVERAGE.md's totals line must equal the live registry."""
    text = (QUERIES_DIR.parent.parent / "COVERAGE.md").read_text()
    m = re.search(
        r"Totals: \*\*(\d+) declared query keys\*\* \((\d+) with DuckDB "
        r"oracles, (\d+) rows-only",
        text,
    )
    assert m, "COVERAGE.md totals line missing or reformatted"
    declared, oracled, rows_only = map(int, m.groups())
    qs, os_ = q.queries(), q.oracle_sql()
    assert declared == len(qs)
    assert oracled == len(os_) == len(set(qs) & set(os_))
    assert rows_only == len(q.ROWS_ONLY_KEYS) == len(qs) - len(os_)
    assert set(qs) - set(os_) == set(q.ROWS_ONLY_KEYS)


def test_contract_key_consistency():
    """Through the driver entry point: every oracle key has a queries()
    twin, and the keys without an oracle are exactly the declared
    ROWS_ONLY_KEYS, so adding a key without an oracle is an explicit
    one-place decision instead of a silent suite-breaker."""
    import __spark_entry__ as m

    qs, os_ = m.queries(), m.oracle_sql()
    assert set(os_) <= set(qs), f"orphan oracle keys: {set(os_) - set(qs)}"
    assert len(qs) >= 101 and len(os_) >= 95
    rows_only = set(qs) - set(os_)
    assert rows_only == set(q.ROWS_ONLY_KEYS), (
        f"undeclared rows-only keys: {rows_only - set(q.ROWS_ONLY_KEYS)}; "
        f"declared-but-oracled: {set(q.ROWS_ONLY_KEYS) - rows_only}"
    )
