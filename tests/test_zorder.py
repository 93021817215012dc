"""Z-order keys: model parity, engine parity, clamps."""

from __future__ import annotations

import math

import pytest

from core_spark.operators.zorder import (
    sql_zorder_bucket_stats,
    with_zorder_key,
)


def _spread16(x: int) -> int:
    x &= 0xFFFF
    x = (x | (x << 8)) & 0x00FF00FF
    x = (x | (x << 4)) & 0x0F0F0F0F
    x = (x | (x << 2)) & 0x33333333
    x = (x | (x << 1)) & 0x55555555
    return x


def _quant(v, lo, span):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return 0
    q = math.floor((v - lo) / span * 65536.0)
    return min(max(q, 0), 65535)


def _model_zkey(lat, lon) -> int:
    return _spread16(_quant(lon, -180.0, 360.0)) | (
        _spread16(_quant(lat, -90.0, 180.0)) << 1
    )


def test_model_deinterleaves_back():
    # the key actually interleaves: even bits are lon, odd bits are lat
    for qx, qy in [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321)]:
        z = _spread16(qx) | (_spread16(qy) << 1)
        gx = gy = 0
        for b in range(16):
            gx |= ((z >> (2 * b)) & 1) << b
            gy |= ((z >> (2 * b + 1)) & 1) << b
        assert (gx, gy) == (qx, qy)


PROBES = [
    (40.7128, -74.006),
    (-23.5505, -46.6333),
    (0.0, 0.0),
    (90.0, 180.0),     # upper edges clamp to 65535
    (-90.0, -180.0),
    (120.0, 540.0),    # out of range -> clamp
    (float("nan"), 10.0),
    (None, None),      # NULL -> slot 0
]


@pytest.mark.spark
def test_spark_matches_model_incl_clamps(spark):
    df = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(PROBES)],
        "id long, lat double, lon double",
    )
    got = {r["id"]: r["zkey"] for r in with_zorder_key(df).collect()}
    for i, (la, lo) in enumerate(PROBES):
        assert got[i] == _model_zkey(la, lo), (i, la, lo)


@pytest.mark.spark
def test_duckdb_twin_matches_spark(spark):
    """The DuckDB twin's bucket stats equal the Spark operator's key plus
    the bucket aggregate that the ``zorder_layout`` query runs."""
    import duckdb
    from pyspark.sql import functions as F

    lat = "CAST(({v} * 37) % 170 AS DOUBLE) - 85.0 + 0.25"
    lon = "CAST(({v} * 53) % 350 AS DOUBLE) - 175.0 + 0.5"
    want = sorted(
        tuple(r)
        for r in duckdb.sql(sql_zorder_bucket_stats(
            f"SELECT {lat.format(v='t.range')} AS lat, {lon.format(v='t.range')} AS lon"
            " FROM range(500) AS t"
        )).fetchall()
    )
    pts = spark.range(500).selectExpr(f"{lat.format(v='id')} AS lat", f"{lon.format(v='id')} AS lon")
    got = sorted(
        tuple(r)
        for r in with_zorder_key(pts)
        .selectExpr(f"zkey DIV {1 << 26} AS bucket", "lat", "lon")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.min("lat"), F.max("lat"),
             F.min("lon"), F.max("lon"))
        .collect()
    )
    assert got == want


@pytest.mark.spark
def test_zorder_locality_beats_row_order(spark):
    """The point of the layout: per-bucket bbox area shrinks vs id order."""
    import pyspark.sql.functions as F

    pts = spark.range(4096).selectExpr(
        "id",
        "CAST((id * 37) % 170 AS DOUBLE) - 85.0 + 0.25 AS lat",
        "CAST((id * 53) % 350 AS DOUBLE) - 175.0 + 0.5 AS lon",
    )

    def mean_bbox(df, order_col):
        import pyspark.sql.functions as F
        w = df.withColumn(
            "b", (F.col(order_col) / F.lit(256)).cast("long")
        )
        rows = (
            w.groupBy("b")
            .agg(
                (F.max("lat") - F.min("lat")).alias("dlat"),
                (F.max("lon") - F.min("lon")).alias("dlon"),
            )
            .collect()
        )
        return sum(r["dlat"] * r["dlon"] for r in rows) / len(rows)

    keyed = with_zorder_key(pts)
    # rank-by-zkey buckets vs rank-by-id buckets, same bucket size
    from pyspark.sql import Window
    ranked = keyed.withColumn(
        "zr", F.row_number().over(Window.orderBy("zkey")) - 1
    )
    z_area = mean_bbox(ranked, "zr")
    id_area = mean_bbox(keyed, "id")
    assert z_area < id_area / 2  # at least 2x tighter footprints
