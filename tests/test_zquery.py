"""Z-order bbox query: completeness fuzz, budgets, pruning payoff."""

from __future__ import annotations

import math

import pytest

from core_spark.operators.zorder import zorder_steps
from core_spark.operators.zquery import (
    _pyquant,
    bbox_query,
    morton,
    zorder_bbox_ranges,
)


def in_ranges(k, ranges):
    return any(lo <= k <= hi for lo, hi in ranges)


def test_ranges_cover_every_cell_in_box_exactly():
    """Small box: the cover at full depth is EXACTLY the box's cells."""
    r = zorder_bbox_ranges(10.0, 10.1, 20.0, 20.1, max_ranges=10_000)
    qx0, qx1 = _pyquant(20.0, -180, 360), _pyquant(20.1, -180, 360)
    qy0, qy1 = _pyquant(10.0, -90, 180), _pyquant(10.1, -90, 180)
    cells = {
        morton(x, y)
        for x in range(qx0, qx1 + 1) for y in range(qy0, qy1 + 1)
    }
    covered = {
        k for lo, hi in r for k in range(lo, min(hi, max(cells)) + 1)
        if k in cells
    }
    assert covered == cells
    total = sum(hi - lo + 1 for lo, hi in r)
    assert total >= len(cells)


@pytest.mark.parametrize("budget", [1, 4, 16, 64])
def test_budget_is_respected_and_cover_is_superset(budget):
    import random
    rng = random.Random(17)
    for _ in range(40):
        la0 = rng.uniform(-90, 89)
        la1 = min(90, la0 + rng.uniform(0, 30))
        lo0 = rng.uniform(-180, 179)
        lo1 = min(180, lo0 + rng.uniform(0, 30))
        r = zorder_bbox_ranges(la0, la1, lo0, lo1, max_ranges=budget)
        assert 1 <= len(r) <= budget
        assert all(a <= b for a, b in r)
        assert all(r[i][1] < r[i + 1][0] for i in range(len(r) - 1))
        # completeness: random in-box points quantize into the cover
        for _ in range(20):
            la = rng.uniform(la0, la1)
            lo = rng.uniform(lo0, lo1)
            k = morton(_pyquant(lo, -180, 360), _pyquant(la, -90, 180))
            assert in_ranges(k, r)


def test_tight_budget_coarsens_but_never_drops():
    fine = zorder_bbox_ranges(0.0, 5.0, 0.0, 5.0, max_ranges=256)
    one = zorder_bbox_ranges(0.0, 5.0, 0.0, 5.0, max_ranges=1)
    assert len(one) == 1
    # the 1-range cover is a superset of the fine cover
    lo, hi = one[0]
    assert all(lo <= a and b <= hi for a, b in fine)


def test_small_box_covers_tiny_fraction_of_keyspace():
    r = zorder_bbox_ranges(40.0, 41.0, -74.0, -73.0, max_ranges=64)
    covered = sum(hi - lo + 1 for lo, hi in r)
    assert covered / float(1 << 32) < 0.001  # the pruning payoff


def test_python_quant_mirrors_sql_quant():
    import duckdb
    vals = [-200.0, -180.0, -179.9, 0.0, 17.3, 179.99, 180.0, 250.0]
    steps = dict(zorder_steps("lat", "lon"))
    got = duckdb.sql(
        "SELECT " + ", ".join(
            steps["_zx0"].replace("lon", repr(v)) for v in vals)
    ).fetchall()[0]
    assert list(got) == [_pyquant(v, -180.0, 360.0) for v in vals]


@pytest.mark.spark
def test_spark_query_equals_plain_filter(spark):
    rows = [(i, (i * 37) % 170 - 85.0 + 0.25, (i * 53) % 350 - 175.0 + 0.5)
            for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lat double, lon double")
    got = {
        r["doc_id"]
        for r in bbox_query(df, -20.0, 30.0, -60.0, 40.0).collect()
    }
    want = {
        i for i, la, lo in rows
        if -20.0 <= la <= 30.0 and -60.0 <= lo <= 40.0
    }
    assert got == want and got


@pytest.mark.spark
def test_range_filter_pushes_to_parquet_scan(spark, tmp_path):
    """The payoff demo: on a ZORDER-laid-out parquet table the zkey
    ranges appear in PushedFilters — the stats-pruning clause."""
    from core_spark.operators.zorder import with_zorder_key

    rows = [(i, (i * 37) % 170 - 85.0 + 0.25, (i * 53) % 350 - 175.0 + 0.5)
            for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lat double, lon double")
    path = str(tmp_path / "zlaid")
    (with_zorder_key(df).repartitionByRange(8, "zkey")
     .sortWithinPartitions("zkey").write.mode("overwrite").parquet(path))
    laid = spark.read.parquet(path)
    q = bbox_query(laid.drop("zkey"), -20.0, 30.0, -60.0, 40.0)
    got = {r["doc_id"] for r in q.collect()}
    want = {
        r["doc_id"]
        for r in laid.where(
            "lat BETWEEN -20.0 AND 30.0 AND lon BETWEEN -60.0 AND 40.0"
        ).collect()
    }
    assert got == want
    # the recomputed-zkey filter can't push; filter the STORED key to see
    # PushedFilters carry the ranges (what a stats-pruning scan consumes)
    from core_spark.operators.zquery import zorder_bbox_ranges
    ranges = zorder_bbox_ranges(-20.0, 30.0, -60.0, 40.0, 8)
    clause = " OR ".join(f"(zkey >= {a} AND zkey <= {b})" for a, b in ranges)
    plan = (
        laid.where(clause)._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and "zkey" in plan.split(
        "PushedFilters")[1][:200]


def test_rejects_bad_params():
    with pytest.raises(ValueError):
        zorder_bbox_ranges(1.0, 0.0, 0.0, 1.0)
    with pytest.raises(ValueError):
        zorder_bbox_ranges(0.0, 1.0, 0.0, 1.0, max_ranges=0)
