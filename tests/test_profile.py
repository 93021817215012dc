"""Battery for operators/profile.py — one-pass column profiler."""

from __future__ import annotations

import duckdb
import pytest

from core_spark.operators.profile import profile_table, sql_profile_table

pytestmark = pytest.mark.spark

_COLS = [
    ("id", "id"),
    ("val_cents", "FLOOR(val * 100.0)"),
    ("name_len", "LENGTH(name)"),
]


def _fixture(spark):
    data = [
        (1, 2.5, "alpha"),
        (2, 2.5, "beta"),
        (3, None, "gamma"),
        (4, -1.25, None),
        (5, 0.0, ""),
    ]
    return spark.createDataFrame(data, "id BIGINT, val DOUBLE, name STRING")


def test_profile_counts_nulls_distinct_range(spark):
    got = {
        r.column: (r.n_nonnull, r.n_null, r.n_distinct, r.min_v, r.max_v)
        for r in profile_table(_fixture(spark), _COLS).collect()
    }
    assert got["id"] == (5, 0, 5, 1, 5)
    # vals: 250, 250, NULL, -125, 0 -> distinct {250, -125, 0}
    assert got["val_cents"] == (4, 1, 3, -125, 250)
    # lengths: 5, 4, 5, NULL, 0
    assert got["name_len"] == (4, 1, 3, 0, 5)


def test_one_aggregation_pass(spark):
    # the profile must be ONE agg over ONE scan: exactly one Aggregate
    # chain, no join/union in the plan
    plan = profile_table(
        _fixture(spark), _COLS
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Union" not in plan


def test_empty_table_and_validation(spark):
    empty = _fixture(spark).where("id < 0")
    got = {
        r.column: (r.n_nonnull, r.n_null, r.n_distinct, r.min_v, r.max_v)
        for r in profile_table(empty, _COLS).collect()
    }
    assert got["id"] == (0, 0, 0, None, None)
    with pytest.raises(ValueError):
        profile_table(_fixture(spark), [])


def test_duckdb_twin_matches(spark):
    got = {
        r.column: (r.n_nonnull, r.n_null, r.n_distinct, r.min_v, r.max_v)
        for r in profile_table(_fixture(spark), _COLS).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, val DOUBLE, name VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(1, 2.5, "alpha"), (2, 2.5, "beta"), (3, None, "gamma"),
         (4, -1.25, None), (5, 0.0, "")],
    )
    want = {
        c: (nn, nu, nd, mn, mx)
        for c, nn, nu, nd, mn, mx in con.sql(
            sql_profile_table("SELECT * FROM t", _COLS)
        ).fetchall()
    }
    assert got == want
