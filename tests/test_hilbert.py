"""Hilbert curve: textbook tables, the adjacency property (the whole
point vs Z-order), roundtrip bijectivity, quantization hygiene, and the
stepwise-SQL twins."""

from __future__ import annotations

import math

import duckdb

from core_spark.operators.hilbert import (
    N,
    ORDER,
    hilbert_d2xy_py,
    hilbert_py,
    hilbert_steps,
    with_hilbert_key,
)


def test_order1_and_order2_tables():
    assert [hilbert_py(x, y, 1) for x, y in
            [(0, 0), (0, 1), (1, 1), (1, 0)]] == [0, 1, 2, 3]
    # 4x4 walk: the curve enters at (0,0) and exits at (3,0)
    d2 = {(x, y): hilbert_py(x, y, 2) for x in range(4) for y in range(4)}
    assert d2[(0, 0)] == 0 and d2[(3, 0)] == 15
    assert sorted(d2.values()) == list(range(16))


def test_adjacency_property_consecutive_indices_are_grid_neighbors():
    # THE Hilbert property (Z-order lacks it): |dx| + |dy| == 1 always.
    # Spot a spread of ranges at full order, not just tiny lattices.
    for base in (0, 1023, 2 ** 20 - 7, 3 ** 19, 2 ** 31 - 40):
        for d in range(base, base + 24):
            x0, y0 = hilbert_d2xy_py(d)
            x1, y1 = hilbert_d2xy_py(d + 1)
            assert abs(x1 - x0) + abs(y1 - y0) == 1, d


def test_roundtrip_bijectivity_at_full_order():
    for d in (0, 1, 65535, 123456789, 2 ** 32 - 1, 987654321):
        x, y = hilbert_d2xy_py(d)
        assert hilbert_py(x, y) == d


def _quant_py(v, lo, span):
    raw = math.floor((v - lo) / span * 65536.0)
    return min(max(raw, 0), 65535)


def test_spark_key_matches_model_and_duckdb(spark):
    pts = [(float((i * 37) % 170 - 85) + 0.25,
            float((i * 53) % 350 - 175) + 0.5) for i in range(300)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = [r["hkey"] for r in with_hilbert_key(df).collect()]
    want = [hilbert_py(_quant_py(lon, -180.0, 360.0),
                       _quant_py(lat, -90.0, 180.0))
            for lat, lon in pts]
    assert sorted(got) == sorted(want)

    con = duckdb.connect()
    con.execute("CREATE TABLE src AS SELECT * FROM (VALUES "
                + ",".join(f"({a},{b})" for a, b in pts) + ") t(lat, lon)")
    inner = "(SELECT lat, lon FROM src)"
    for name, expr in hilbert_steps("lat", "lon", "duckdb"):
        inner = f"(SELECT *, {expr} AS {name} FROM {inner})"
    duck = [int(v) for (v,) in
            con.execute(f"SELECT hkey FROM {inner}").fetchall()]
    assert sorted(duck) == sorted(want)


def test_quantization_hygiene_clamps_and_null_guards(spark):
    df = spark.createDataFrame(
        [(None, 10.0), (float("nan"), 10.0), (95.0, 10.0), (-95.0, 10.0),
         (0.0, 700.0)],
        "lat double, lon double",
    )
    rows = [r["hkey"] for r in with_hilbert_key(df).collect()]
    # every row produces a VALID key (clamped to the lattice edge);
    # NULL/NaN quantize to 0 like zorder's _quant
    assert all(0 <= k < N * N for k in rows)
    assert len(rows) == 5


def test_order_matches_zorder_resolution():
    assert ORDER == 16 and N == 65536
