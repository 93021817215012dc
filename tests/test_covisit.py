"""Co-visitation pairs: model parity, crowd gate, thresholds, plan."""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

import duckdb
import pytest

from core_spark.operators.covisit import co_visits, sql_co_visits


def _t(hour, minute=0, micro=0):
    return dt.datetime(2024, 1, 1, hour, minute, 0, micro)


# cell 1.0, bucket 3600s. u1/u2 share three buckets; u1/u3 share one;
# u4+u5+u6+u7 crowd one bucket with u1/u2 (crowd gate drops it at cap 3,
# keeps it at cap 6).
ROWS = [
    # bucket h8, cell (0,0): u1+u2 (+ subsecond edge: same bucket)
    (1, _t(8), 0.5, 0.5), (2, _t(8, 30, 999999), 0.2, 0.8),
    # bucket h9, cell (2,2): u1+u2+u3
    (1, _t(9), 2.5, 2.5), (2, _t(9, 5), 2.1, 2.9), (3, _t(9, 59), 2.9, 2.1),
    # bucket h10, cell (0,0): u1+u2 again; duplicate ping dedups
    (1, _t(10), 0.5, 0.5), (1, _t(10, 1), 0.6, 0.6), (2, _t(10, 2), 0.1, 0.1),
    # bucket h12, cell (5,5): the CROWD — u1,u2,u4,u5,u6,u7 (6 users)
    (1, _t(12), 5.5, 5.5), (2, _t(12), 5.5, 5.5), (4, _t(12), 5.1, 5.1),
    (5, _t(12), 5.2, 5.2), (6, _t(12), 5.3, 5.3), (7, _t(12), 5.4, 5.4),
    # NULL hygiene
    (None, _t(13), 1.0, 1.0), (8, None, 1.0, 1.0), (8, _t(13), None, 1.0),
]


def model(rows, cap, g=1.0, b=3600, k=2):
    visits = set()
    for e, ts, la, lo in rows:
        if e is None or ts is None or la is None or lo is None:
            continue
        us = int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
        visits.add((e, math.floor(la / g), math.floor(lo / g),
                    us // (b * 1_000_000)))
    crowd = Counter((c, d, t) for _, c, d, t in visits)
    visits = {v for v in visits if crowd[v[1:]] <= cap}
    by_e = {}
    for e, *v in visits:
        by_e.setdefault(e, set()).add(tuple(v))
    out = {}
    es = sorted(by_e)
    for i, a in enumerate(es):
        for bb in es[i + 1:]:
            n = len(by_e[a] & by_e[bb])
            if n >= k:
                out[(a, bb)] = n
    return out


def test_model_hand_checks():
    crowd_kept = model(ROWS, cap=6)
    assert crowd_kept[(1, 2)] == 4      # h8, h9, h10, crowd bucket
    capped = model(ROWS, cap=3)
    assert capped == {(1, 2): 3}        # crowd evidence dropped
    assert model(ROWS, k=1, cap=3)[(1, 3)] == 1
    assert (4, 5) not in model(ROWS, k=1, cap=3)   # crowd-only pair gone
    assert (4, 5) in model(ROWS, k=1, cap=6)       # but real under the cap


def _vals():
    rows = ", ".join(
        f"({'NULL' if e is None else e}, "
        + ("NULL" if ts is None else f"TIMESTAMP '{ts}'") + ", "
        + ("NULL" if la is None else repr(la)) + ", "
        + ("NULL" if lo is None else repr(lo)) + ")"
        for e, ts, la, lo in ROWS
    )
    return f"SELECT * FROM (VALUES {rows}) t(user_id, ts, lat, lon)"


@pytest.mark.parametrize("k,cap", [(2, 6), (2, 3), (1, 3), (1, 6)])
def test_duckdb_twin_matches_model(k, cap):
    got = {
        (r[0], r[1]): r[2]
        for r in duckdb.sql(
            sql_co_visits(_vals(), 1.0, 3600, cap, k)).fetchall()
    }
    assert got == model(ROWS, k=k, cap=cap)


@pytest.mark.spark
@pytest.mark.parametrize("k,cap", [(2, 6), (2, 3), (1, 3)])
def test_spark_matches_model(spark, k, cap):
    df = spark.createDataFrame(
        ROWS, "user_id long, ts timestamp, lat double, lon double")
    got = {
        (r["a"], r["b"]): r["shared_buckets"]
        for r in co_visits(df, 1.0, 3600, cap, k).collect()
    }
    assert got == model(ROWS, k=k, cap=cap)


@pytest.mark.spark
def test_plan_equi_join_never_cartesian(spark):
    df = spark.createDataFrame(
        ROWS, "user_id long, ts timestamp, lat double, lon double")
    plan = (
        co_visits(df, 1.0, 3600, 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rejects_bad_params():
    with pytest.raises(ValueError):
        co_visits(None, 0.0, 3600, 3)
    with pytest.raises(ValueError):
        co_visits(None, 1.0, 0, 3)
    with pytest.raises(ValueError):
        co_visits(None, 1.0, 3600, 3, min_shared=0)
    with pytest.raises(ValueError):
        co_visits(None, 1.0, 3600, max_bucket_users=1)
