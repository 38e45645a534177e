"""Registry invariants.

The external correctness gate checks the first 50 keys of ``queries()``
against DuckDB at sf0.01 and records them in CORRECTNESS_r*.json (the
"window"). The full registry is verified by ``scripts/check_oracle.py``,
which writes FULLCHECK.json with the content hash of the code it ran.
These tests pin:

- the window leads with the queries that have no CORRECTNESS row yet
  (``_NEW_QUERIES``), then follows registration order;
- every registered query has a CORRECTNESS row or sits in the window;
- FULLCHECK.json is green, covers exactly the registry at sf0.01, and
  was produced by the code at HEAD. Any edit under ``goetl_spark/`` or
  to ``__spark_entry__.py`` fails this until a full
  ``scripts/check_oracle.py`` run at sf0.01 is repeated.
"""
from __future__ import annotations

import glob
import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(REPO, "scripts", "check_oracle.py"))
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


def _gate_rows() -> set[str]:
    out: set[str] = set()
    for f in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        try:
            out |= set(json.load(open(f)).keys())
        except (json.JSONDecodeError, AttributeError):
            continue
    return out


def test_window_shape():
    """The window is the first 50 keys of queries(): distinct,
    registered, led by the queries with no CORRECTNESS row yet."""
    from goetl_spark.queries import _NEW_QUERIES, _REGISTRY, queries

    window = list(queries())[:50]
    assert len(window) == min(50, len(_REGISTRY))
    assert len(set(window)) == len(window), "duplicate window entries"
    assert window[: len(_NEW_QUERIES)] == _NEW_QUERIES


def test_window_is_queries_prefix():
    """queries() is _NEW_QUERIES followed by every other registered
    name in registration order, so the window needs no bookkeeping."""
    from goetl_spark.queries import _NEW_QUERIES, _REGISTRY, queries

    rest = [n for n in _REGISTRY if n not in _NEW_QUERIES]
    assert list(queries()) == _NEW_QUERIES + rest


def test_union_coverage():
    """A new query has no CORRECTNESS row yet: list it in _NEW_QUERIES
    so the next gate run checks it."""
    from goetl_spark.queries import queries

    rows = _gate_rows()
    if not rows:  # fresh clone without artifacts: nothing to check
        return
    window = set(list(queries())[:50])
    uncovered = [n for n in queries() if n not in rows and n not in window]
    assert not uncovered, (
        f"queries with no CORRECTNESS row outside the window: {uncovered}")


def test_fullcheck_at_head(sf_dir):
    from goetl_spark.queries import queries

    gate_sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    rerun = f"re-run python scripts/check_oracle.py {gate_sf}"
    path = os.path.join(REPO, "FULLCHECK.json")
    assert os.path.exists(path), f"FULLCHECK.json missing — {rerun}"
    fc = json.load(open(path))
    assert fc["failures"] == [], f"full-registry check failed: {fc['failures']}"
    assert fc["queries"] == sorted(queries()), (
        f"FULLCHECK.json covers a different registry — {rerun}")
    assert fc["sf_dir"] == gate_sf
    assert fc["code_hash"] == check_oracle.code_hash(), (
        f"FULLCHECK.json was produced by different code than HEAD — {rerun}")
