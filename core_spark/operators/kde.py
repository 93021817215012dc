"""Focal kernel smoothing: KDE heatmap + kernel-weighted value surface.

Vector→raster with CROSS-CELL influence: ``zonal.rasterize`` counts
points per cell, but a heatmap / smoothed quality surface needs every
point within a *bandwidth radius* of the cell center to contribute,
weighted by distance — GIS "focal statistics". Per output cell (the
raster cells that contain at least one point):

- ``npts``   — points with planar dist² < radius² of the cell center;
- ``wsum``   — Σ w, the (quantized) Epanechnikov kernel density;
- ``vwsum``  — Σ w·v, the kernel-weighted value mass;
- ``smoothed`` = vwsum / wsum — the Nadaraya-Watson kernel-regression
  estimate of the value at the cell center (NULL when every in-range
  weight quantizes to 0).

The Epanechnikov kernel ``w ∝ (r² − d²)`` is chosen over Gaussian for
two load-bearing reasons: COMPACT SUPPORT (points beyond ``radius``
contribute exactly 0, which is what makes grid blocking complete — a
Gaussian tail never ends) and PORTABLE ARITHMETIC (no exp; the oracle
rules forbid transcendentals in compared values). Weights are quantized
``w = FLOOR(wscale·(r²−d²)/r²)`` to BIGINT before aggregation, so the
group sums are integer — partition-order-independent and bit-identical
across engines AND across cluster runs (double sums are neither).

100-TB shape: epsilon-grid blocking at block = radius (the rangejoin
pattern, gridblock.py): points replicate to their 3×3 radius-block
neighborhood (map-side ×9), cell centers stay in their home block, one
equi shuffle, never a cartesian (plan-asserted). Dense-city mega-blocks
are one hot key — AQE skew-join territory, same caveat as
range_join_pairs. The points table feeds both the cell derivation and
the candidate join, so it is eagerly pinned (CLAUDE.md self-join rule).

Geometry is PLANAR over equirectangular lon/lat — the hexgrid lattice
caveat applies (no ±180 wrap). ``value_col`` must be integral (callers
pre-scale fixed-point values; the BIGINT cast is lossless by contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.operators import gridblock as gb
from core_spark.plans.materialize import pin

WSCALE_DEFAULT = 1 << 20


def _valid(lat: str, lon: str, val: str) -> str:
    return (
        f"{lat} IS NOT NULL AND {lon} IS NOT NULL AND {val} IS NOT NULL"
        f" AND NOT isnan({lat}) AND NOT isnan({lon})"
        f" AND abs({lat}) < 1e12 AND abs({lon}) < 1e12"
    )


def kernel_heatmap(
    df: DataFrame,
    cell_size: float,
    radius: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    wscale: int = WSCALE_DEFAULT,
) -> DataFrame:
    """(cell_i, cell_j, npts, wsum, vwsum, smoothed) per occupied cell.

    ``radius >= cell_size`` is required: it guarantees every occupied
    cell's own points are within range of its center (center-to-corner
    distance is cell_size/√2 < cell_size), so no occupied cell vanishes.
    """
    g, r = float(cell_size), float(radius)
    if not g > 0:
        raise ValueError(f"cell_size must be > 0, got {cell_size}")
    if r < g:
        raise ValueError(f"radius ({radius}) must be >= cell_size ({g})")
    if wscale < 1:
        raise ValueError(f"wscale must be >= 1, got {wscale}")

    pts = (
        df.where(_valid(lat_col, lon_col, value_col))
        .selectExpr(
            f"{lat_col} AS _plat",
            f"{lon_col} AS _plon",
            f"CAST({value_col} AS BIGINT) AS _v",
        )
        .transform(pin)
    )
    centers = pts.selectExpr(
        f"{gb.cell('_plat', g)} AS cell_i", f"{gb.cell('_plon', g)} AS cell_j",
    ).distinct().selectExpr(
        "cell_i",
        "cell_j",
        f"(cell_i + 0.5D) * {g!r} AS _clat",
        f"(cell_j + 0.5D) * {g!r} AS _clon",
        f"{gb.cell(f'(cell_i + 0.5D) * {g!r}', r)} AS _bx",
        f"{gb.cell(f'(cell_j + 0.5D) * {g!r}', r)} AS _by",
    )
    cand = gb.neighbours(
        pts, ["_plat", "_plon", "_v"],
        {"_bx": gb.cell("_plat", r), "_by": gb.cell("_plon", r)},
    )
    d2 = "(_plat - _clat) * (_plat - _clat) + (_plon - _clon) * (_plon - _clon)"
    w = f"CAST(FLOOR({wscale} * ({r * r!r} - ({d2})) / {r * r!r}) AS BIGINT)"
    return (
        cand.join(centers, ["_bx", "_by"])
        .where(F.expr(f"{d2} < {r * r!r}"))
        .selectExpr("cell_i", "cell_j", "_v", f"{w} AS _w")
        .groupBy("cell_i", "cell_j")
        .agg(
            F.count(F.lit(1)).alias("npts"),
            F.sum("_w").cast("long").alias("wsum"),
            F.expr("CAST(SUM(_w * _v) AS BIGINT)").alias("vwsum"),
        )
        .selectExpr(
            "cell_i", "cell_j", "npts", "wsum", "vwsum",
            "CASE WHEN wsum > 0 THEN CAST(vwsum AS DOUBLE)"
            " / CAST(wsum AS DOUBLE) END AS smoothed",
        )
    )


def sql_kernel_heatmap(
    points_sql: str,
    cell_size: float,
    radius: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    wscale: int = WSCALE_DEFAULT,
) -> str:
    """DuckDB oracle twin: the honest brute-force plan — every occupied
    cell against EVERY point (no blocking) — so the 3×3 block join's
    completeness is what the cross-engine gate checks."""
    g, r = float(cell_size), float(radius)
    d2 = (
        f"(p._plat - c._clat) * (p._plat - c._clat)"
        f" + (p._plon - c._clon) * (p._plon - c._clon)"
    )
    w = f"CAST(FLOOR({wscale} * ({r * r!r} - ({d2})) / {r * r!r}) AS BIGINT)"
    return f"""
        WITH pts AS (
          SELECT {lat_col} AS _plat, {lon_col} AS _plon,
                 CAST({value_col} AS BIGINT) AS _v
          FROM ({points_sql}) src
          WHERE {_valid(lat_col, lon_col, value_col)}
        ),
        centers AS (
          SELECT cell_i, cell_j,
                 (cell_i + 0.5) * {g!r} AS _clat,
                 (cell_j + 0.5) * {g!r} AS _clon
          FROM (SELECT DISTINCT CAST(FLOOR(_plat / {g!r}) AS BIGINT) AS cell_i,
                                CAST(FLOOR(_plon / {g!r}) AS BIGINT) AS cell_j
                FROM pts) cells
        )
        SELECT c.cell_i, c.cell_j,
               CAST(COUNT(*) AS BIGINT) AS npts,
               CAST(SUM({w}) AS BIGINT) AS wsum,
               CAST(SUM({w} * p._v) AS BIGINT) AS vwsum,
               CASE WHEN CAST(SUM({w}) AS BIGINT) > 0
                    THEN CAST(CAST(SUM({w} * p._v) AS BIGINT) AS DOUBLE)
                         / CAST(CAST(SUM({w}) AS BIGINT) AS DOUBLE)
               END AS smoothed
        FROM centers c, pts p
        WHERE {d2} < {r * r!r}
        GROUP BY c.cell_i, c.cell_j
    """
