"""Inverse-distance-weighted raster fill over scattered points.

The classic Shepard (1968) interpolation, raster form: scattered
measurements (sensor readings, per-point quality scores, geoparsed
signal densities) → a COMPLETE grid surface, each node estimated from
the points within a radius, weighted by inverse squared distance. The
GIS "IDW to raster" tool; rasterize.py's aggregating cousin (zonal
answers "what is IN each cell", IDW answers "what is the field AT each
node, including nodes with no points of their own").

Determinism contract (the repo's float-free stance, covisit/termstats):
textbook IDW sums IEEE weight ratios, whose value depends on summation
order — unacceptable across shuffles. Here the weight is FIXED-POINT:

    w = scale DIV (d2_micro + 1)        (exact BIGINT)

where ``d2_micro = FLOOR(dist²·1e6)`` is the rangejoin quantization.
The +1 regularizer makes exact hits (d2 = 0) finite and dominant, and
power-2 IDW needs NO square root anywhere — inverse SQUARED distance
is the standard exponent, and d² is what the engine already has.
Numerator Σ w·z and denominator Σ w are exact BIGINTs, order-free
under any shuffle; the estimate is ONE trailing IEEE division beside
its exact factors. Caller contract: Σ w·z must fit int64 — with the
default scale 1e9, |z| ≤ 1e6 and ≤ 1e3 in-radius points are safe by
three orders of magnitude.

Plan shape:

1. one 1-row bbox aggregate over the (pinned) point table, broadcast;
2. grid nodes GENERATED JVM-side from the bbox via two sequence
   explodes (the bm25.py literal-table rule: never createDataFrame on
   a query path) — node count guarded by an IN-PLAN raise_error (the
   regionize pattern; a degenerate cell size must fail loudly, not
   OOM the cluster);
3. epsilon-grid join, radius-sized blocks: NODES replicate to their
   3×3 neighborhood (the generated side is the cheap side to
   replicate — at web scale points outnumber nodes), points stay in
   their home block, ONE uniform equi shuffle;
4. exact integer predicate d2_micro < r²·1e6, one hash-agg per node.

Nodes with no point within the radius are ABSENT (no evidence ≠ a
zero-valued field); callers densify against the node lattice if
needed.

The DuckDB oracle is the honest O(nodes·points) cross join — no
blocking — over the same generated lattice, gating the 3×3
neighborhood's completeness.

No reference counterpart (specvital/core has no spatial subsystem);
the estimator is Shepard's published formulation, power 2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.operators import gridblock as gb
from core_spark.plans.materialize import pin

_EST = (
    "CAST(wz_sum AS DOUBLE) / CAST(w_sum AS DOUBLE) AS est"
)


def _d2_micro(alat: str, alon: str, blat: str, blon: str) -> str:
    d2 = (f"(({alat}) - ({blat})) * (({alat}) - ({blat}))"
          f" + (({alon}) - ({blon})) * (({alon}) - ({blon}))")
    return f"CAST(FLOOR(({d2}) * 1000000) AS BIGINT)"


def idw_fill(
    points: DataFrame,
    cell: float,
    radius: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    scale: int = 1_000_000_000,
    max_nodes: int = 1_000_000,
) -> DataFrame:
    """(gi, gj, glat, glon, n_pts, w_sum, wz_sum, est): power-2 IDW
    estimates at the centers of a ``cell``-sized lattice covering the
    point bbox, from points within ``radius`` of each node. Values
    cast to BIGINT; w_sum / wz_sum exact."""
    cell = float(cell)
    radius = float(radius)
    scale = int(scale)
    if cell <= 0 or radius <= 0 or scale < 1:
        raise ValueError(
            f"idw_fill: cell, radius and scale must be > 0,"
            f" got {cell}, {radius}, {scale}")
    pts = pin(points.selectExpr(
        f"CAST({lat_col} AS DOUBLE) AS _plat",
        f"CAST({lon_col} AS DOUBLE) AS _plon",
        f"CAST({value_col} AS BIGINT) AS _pz",
    ).where("_plat IS NOT NULL AND _plon IS NOT NULL"
            " AND _pz IS NOT NULL"))
    bbox = pts.agg(
        F.expr("MIN(_plat)").alias("_lat0"),
        F.expr("MAX(_plat)").alias("_lat1"),
        F.expr("MIN(_plon)").alias("_lon0"),
        F.expr("MAX(_plon)").alias("_lon1"),
    )
    nx = f"CAST(FLOOR((_lat1 - _lat0) / {cell!r}) AS INT)"
    ny = f"CAST(FLOOR((_lon1 - _lon0) / {cell!r}) AS INT)"
    guard = (
        f"CASE WHEN (CAST({nx} AS BIGINT) + 1)"
        f" * (CAST({ny} AS BIGINT) + 1) > {int(max_nodes)}"
        f" THEN CAST(raise_error('idw_fill: lattice exceeds"
        f" {int(max_nodes)} nodes — cell too small for this bbox')"
        f" AS INT) ELSE {nx} END"
    )
    nodes = (
        bbox.selectExpr("_lat0", "_lon0", f"{guard} AS _nx", f"{ny} AS _ny")
        .selectExpr("_lat0", "_lon0", "explode(sequence(0, _nx)) AS gi",
                    "_ny")
        .selectExpr("_lat0", "_lon0", "gi",
                    "explode(sequence(0, _ny)) AS gj")
        .selectExpr(
            "gi", "gj",
            f"_lat0 + (gi + 0.5) * {cell!r} AS glat",
            f"_lon0 + (gj + 0.5) * {cell!r} AS glon",
        )
    )
    nrep = gb.neighbours(
        nodes, ["gi", "gj", "glat", "glon"],
        {"_bx": gb.cell("glat", radius), "_by": gb.cell("glon", radius)},
    )
    phome = pts.selectExpr(
        "_plat", "_plon", "_pz",
        f"{gb.cell('_plat', radius)} AS _bx",
        f"{gb.cell('_plon', radius)} AS _by",
    )
    d2m = _d2_micro("glat", "glon", "_plat", "_plon")
    r2m = int(radius * radius * 1_000_000)
    return (
        nrep.join(phome, ["_bx", "_by"])
        .selectExpr("gi", "gj", "glat", "glon", "_pz",
                    f"{d2m} AS _d2m")
        .where(f"_d2m < {r2m}")
        .selectExpr("gi", "gj", "glat", "glon",
                    f"CAST({scale} DIV (_d2m + 1) AS BIGINT) AS _w",
                    "_pz")
        .groupBy("gi", "gj", "glat", "glon")
        .agg(F.count("*").cast("long").alias("n_pts"),
             F.sum("_w").cast("long").alias("w_sum"),
             F.expr("SUM(_w * _pz)").cast("long").alias("wz_sum"))
        .selectExpr("gi", "gj", "glat", "glon", "n_pts",
                    "w_sum", "wz_sum", _EST)
    )


def sql_idw_fill(
    points_sql: str,
    cell: float,
    radius: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    scale: int = 1_000_000_000,
) -> str:
    """DuckDB twin: same generated lattice, honest O(nodes·points)
    cross join with the same exact predicate/weight text — no
    blocking anywhere."""
    cell = float(cell)
    radius = float(radius)
    scale = int(scale)
    d2m = _d2_micro("n.glat", "n.glon", "p._plat", "p._plon")
    r2m = int(radius * radius * 1_000_000)
    return f"""
        WITH pts AS (
          SELECT CAST({lat_col} AS DOUBLE) AS _plat,
                 CAST({lon_col} AS DOUBLE) AS _plon,
                 CAST({value_col} AS BIGINT) AS _pz
          FROM ({points_sql}) src
          WHERE {lat_col} IS NOT NULL AND {lon_col} IS NOT NULL
            AND {value_col} IS NOT NULL
        ),
        bbox AS (
          SELECT MIN(_plat) AS _lat0, MAX(_plat) AS _lat1,
                 MIN(_plon) AS _lon0, MAX(_plon) AS _lon1
          FROM pts
        ),
        nodes AS (
          SELECT gi, gj,
                 _lat0 + (gi + 0.5) * {cell!r} AS glat,
                 _lon0 + (gj + 0.5) * {cell!r} AS glon
          FROM bbox,
               LATERAL unnest(generate_series(0,
                 CAST(FLOOR((_lat1 - _lat0) / {cell!r}) AS INT))) a(gi),
               LATERAL unnest(generate_series(0,
                 CAST(FLOOR((_lon1 - _lon0) / {cell!r}) AS INT))) b(gj)
        ),
        hits AS (
          SELECT n.gi, n.gj, n.glat, n.glon, p._pz,
                 {scale} // ({d2m} + 1) AS _w
          FROM nodes n, pts p
          WHERE {d2m} < {r2m}
        )
        SELECT gi, gj, glat, glon,
               CAST(COUNT(*) AS BIGINT) AS n_pts,
               CAST(SUM(_w) AS BIGINT) AS w_sum,
               CAST(SUM(_w * _pz) AS BIGINT) AS wz_sum,
               {_EST}
        FROM hits
        GROUP BY gi, gj, glat, glon
    """
