"""Battery for operators/decay.py — exact power-of-two decayed counts."""

from __future__ import annotations

import duckdb
import pytest

from core_spark.operators.decay import decayed_counts, sql_decayed_counts

pytestmark = pytest.mark.spark

_S = 40


def _got(spark, data, **kw):
    df = spark.createDataFrame(data, "k STRING, t BIGINT, x BIGINT")
    return {r.k: r for r in decayed_counts(df, **kw).collect()}


def test_staircase_weights_exact(spark):
    # halflife 2, horizon 4: ages 0,1 -> step 0; 2,3 -> step 1; 4 -> 2
    data = [("a", 4, 1), ("a", 3, 1), ("a", 2, 1), ("a", 1, 1),
            ("a", 0, 1)]
    r = _got(spark, data, halflife=2)["a"]
    want = (1 << _S) + (1 << _S) + (1 << (_S - 1)) + (1 << (_S - 1)) \
        + (1 << (_S - 2))
    assert r.decayed_scaled == want
    assert r.decayed == want / float(1 << _S)  # 1+1+0.5+0.5+0.25
    assert r.decayed == 3.25 and r.n == 5


def test_floor_weight_past_s_halflives(spark):
    # age far beyond S half-lives keeps weight 1 (floor, not cliff)
    r = _got(spark, [("a", 0, 7), ("a", 1000, 1)], halflife=1)["a"]
    assert r.decayed_scaled == (1 << _S) + 7


def test_merge_invariance_under_partitioning(spark):
    data = [("a", t % 9, (t * 13) % 5 + 1) for t in range(60)]
    base = _got(spark, data, halflife=3)["a"].decayed_scaled
    for parts in (1, 7, 32):
        df = spark.createDataFrame(
            data, "k STRING, t BIGINT, x BIGINT"
        ).repartition(parts)
        r = {q.k: q for q in decayed_counts(df, halflife=3).collect()}
        assert r["a"].decayed_scaled == base


def test_null_hygiene_and_validation(spark):
    df = spark.createDataFrame(
        [("a", 1, 5), ("a", None, 9), ("a", 2, None)],
        "k STRING, t BIGINT, x BIGINT",
    )
    r = {q.k: q for q in decayed_counts(df, halflife=1).collect()}
    assert r["a"].n == 1
    with pytest.raises(ValueError):
        decayed_counts(df, halflife=0)


def test_duckdb_twin_matches(spark):
    data = [("k%d" % (i % 3), i % 11, (i * 7) % 4 + 1)
            for i in range(50)]
    got = {
        r.k: (r.decayed_scaled, r.decayed, r.n)
        for r in _got(spark, data, halflife=2).values()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE s (k VARCHAR, t BIGINT, x BIGINT)")
    con.executemany("INSERT INTO s VALUES (?, ?, ?)", data)
    want = {
        k: (ds, d, n)
        for k, ds, d, n in con.sql(
            sql_decayed_counts("SELECT * FROM s", halflife=2)
        ).fetchall()
    }
    assert got == want
