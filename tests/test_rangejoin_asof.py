"""Range join + as-of join vs brute-force Python models."""

from __future__ import annotations

import math

import pytest

from core_spark.operators.asof import asof_join
from core_spark.operators.rangejoin import range_join_pairs

# deterministic scatter incl. negatives and bucket-boundary spacings
PTS = [
    (i, ((i * 7) % 19) - 9 + 0.25 * (i % 4), ((i * 13) % 37) - 18.5)
    for i in range(80)
]
R = 2.5


def _pairs_model():
    out = set()
    for i, (a, alat, alon) in enumerate(PTS):
        for b, blat, blon in PTS[i + 1 :]:
            d2 = (alat - blat) ** 2 + (alon - blon) ** 2
            if d2 < R * R:
                lo, hi = (a, b) if a < b else (b, a)
                out.add((lo, hi, math.floor(d2 * 1_000_000)))
    return out


@pytest.mark.spark
def test_range_join_vs_bruteforce(spark):
    df = spark.createDataFrame(PTS, "doc_id long, lat double, lon double")
    got = {
        (r["a"], r["b"], r["dist_sq_micro"])
        for r in range_join_pairs(df, R).collect()
    }
    want = _pairs_model()
    assert got == want
    assert len(got) > 10  # the fixture actually exercises the join


@pytest.mark.spark
def test_range_join_no_duplicates_and_no_cartesian(spark):
    df = spark.createDataFrame(PTS, "doc_id long, lat double, lon double")
    rows = [(r["a"], r["b"]) for r in range_join_pairs(df, R).collect()]
    assert len(rows) == len(set(rows))  # 3x3 replication matches once
    plan = range_join_pairs(df, R)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan


@pytest.mark.spark
def test_range_join_boundary_excluded(spark):
    # exactly r apart -> strict < excludes, in BOTH bucket arrangements
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.0, 2.5), (3, 10.0, 10.0), (4, 12.5, 10.0)],
        "doc_id long, lat double, lon double",
    )
    assert range_join_pairs(df, 2.5).count() == 0


@pytest.mark.spark
def test_range_join_empty(spark):
    df = spark.createDataFrame([], "doc_id long, lat double, lon double")
    assert range_join_pairs(df, 1.0).count() == 0


EVENTS = [
    # (event_id, key, ts)
    (1, "u", 10), (2, "u", 20), (3, "u", 20), (4, "u", 35), (5, "v", 5),
]
SNAPS = [
    # (key, ts, snap_id): u has snaps at 10, 20, 30; v none
    ("u", 10, 100), ("u", 20, 200), ("u", 30, 300),
]


def _asof_model():
    out = {}
    for eid, k, ts in EVENTS:
        cand = [(sts, sid) for sk, sts, sid in SNAPS if sk == k and sts < ts]
        out[eid] = max(cand)[1] if cand else None
    return out


@pytest.mark.spark
def test_asof_vs_model(spark):
    left = spark.createDataFrame(EVENTS, "event_id long, k string, ts long")
    right = spark.createDataFrame(SNAPS, "k string, ts long, snap_id long")
    got = {
        r["event_id"]: r["asof_snap_id"]
        for r in asof_join(left, right, "k", "ts", ["snap_id"]).collect()
    }
    assert got == _asof_model()


@pytest.mark.spark
def test_asof_null_payload_field_still_matches(spark):
    """A NULL payload FIELD must not be skipped — the struct wrapper keeps
    the row visible to last(ignorenulls)."""
    left = spark.createDataFrame([(1, "u", 10)], "event_id long, k string, ts long")
    right = spark.createDataFrame(
        [("u", 5, None, "tag5"), ("u", 8, None, "tag8")],
        "k string, ts long, snap_id string, label string",
    )
    row = asof_join(
        left, right, "k", "ts", ["snap_id", "label"]
    ).collect()[0]
    assert row["asof_label"] == "tag8" and row["asof_snap_id"] is None


@pytest.mark.spark
def test_asof_plan_no_range_join(spark):
    left = spark.createDataFrame([(1, "u", 10)], "event_id long, k string, ts long")
    right = spark.createDataFrame([("u", 5, 50)], "k string, ts long, snap_id long")
    plan = asof_join(left, right, "k", "ts", ["snap_id"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "Window" in plan  # union-window shape, not a join at all


@pytest.mark.spark
def test_range_join_nan_null_coords_drop(spark):
    """NaN/NULL coordinates never produce pairs: NULL bucket keys don't
    equi-match, and a NaN distance fails the predicate — invalid points
    are silently excluded, not errors."""
    df = spark.createDataFrame(
        [(1, float("nan"), 0.0), (2, None, 1.0), (3, 0.5, 0.5), (4, 0.6, 0.6)],
        "doc_id long, lat double, lon double",
    )
    rows = range_join_pairs(df, 2.0).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(3, 4)]


@pytest.mark.spark
def test_asof_reserved_names_rejected(spark):
    """_src/_snap/_match and prefix collisions raise instead of silently
    corrupting the carry (ADVICE r4)."""
    from core_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, 5)], "k long, ts long, _snap long")
    right = spark.createDataFrame([(1, 9, 7)], "k long, ts long, v long")
    with pytest.raises(ValueError, match="reserves column names"):
        asof_join(left, right, "k", "ts", ["v"])

    left2 = spark.createDataFrame(
        [(1, 10, 5)], "k long, ts long, asof_v long"
    )
    with pytest.raises(ValueError, match="collide with"):
        asof_join(left2, right, "k", "ts", ["v"])

    # a clean frame with the same shape still works
    left3 = spark.createDataFrame([(1, 10)], "k long, ts long")
    got = asof_join(left3, right, "k", "ts", ["v"]).collect()
    assert [(r["k"], r["ts"], r["asof_v"]) for r in got] == [(1, 10, 7)]
