"""The driver's query table: one row per query, and the two views derived
from it (``queries()`` and ``oracle_sql()``)."""

from __future__ import annotations

import __spark_entry__ as entry

ROWS_ONLY = {
    "s2_zonal", "dedup_ngram_routed", "ann_ivf", "ann_ivf_recall",
    "extract_invariant", "s2_assign", "pipeline_stats",
}


def test_names_unique_and_builders_match():
    names = [q.name for q in entry.REGISTRY]
    assert len(names) == len(set(names))
    for q in entry.REGISTRY:
        assert q.build.__name__ == f"q_{q.name}"


def test_each_row_has_an_oracle_or_a_rows_only_reason():
    for q in entry.REGISTRY:
        assert (q.oracle is None) != (q.rows_only is None), q.name
        if q.oracle is None:
            assert q.rows_only.strip(), q.name
        else:
            assert callable(q.oracle), q.name


def test_rows_only_set():
    assert {q.name for q in entry.REGISTRY if q.oracle is None} == ROWS_ONLY


def test_derived_views():
    names = [q.name for q in entry.REGISTRY]
    assert list(entry.queries()) == names
    oracles = entry.oracle_sql()
    assert set(oracles) == set(names) - ROWS_ONLY
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())
