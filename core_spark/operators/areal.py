"""Areal-weighted interpolation: re-aggregate a raster onto zones.

The classic GIS problem zonal.py's PIP rollup can't answer: zonal
assigns each POINT to the one polygon containing it, but when the data
is already RASTERIZED (per-cell counts — census grids, the engine's own
rasterize output) and the target zones don't align with the grid, a
cell straddling a zone boundary must be SPLIT pro-rata by overlap area
— the standard areal-weighting interpolation (Goodchild & Lam 1980),
under the uniform-density-within-cell assumption every GIS package
ships as the default.

Exactness: everything stays integer. Cells are G x G squares in the
quantized frame (cell (cx, cy) spans [cx*G, (cx+1)*G) x [cy*G,
(cy+1)*G)); zones are axis-aligned BIGINT rectangles [xmin, xmax) x
[ymin, ymax) in the same frame (closed-open, so abutting zones don't
double-count a shared edge). The overlap of a cell and a zone is

    ow = max(0, min(cell_x1, zxmax) - max(cell_x0, zxmin))   (same for y)
    overlap = ow * oh                                        in [0, G^2]

an exact BIGINT, and the apportioned mass is value * overlap with the
constant denominator G^2 — so the shuffled aggregate est_scaled =
sum(value * overlap) is exact and partition-order-free, and the
human-facing estimate divides ONCE at the end (one IEEE int64->double
division, engine-pinned). The moran/kde quantize-first recipe again.

Plan shape: each zone explodes MAP-SIDE to the cell ids its rectangle
covers (``gridblock.cover``, bounded by area/G^2 — the PBSM replication
knob; huge zones get pre-split upstream exactly like long linestrings in
segjoin), then
ONE uniform equi shuffle joins zone fragments to occupied cells on the
cell key, and a hash-agg per zone finishes. No reference point needed:
a (cell, zone) pair meets at that cell exactly once by construction.
The raster side — the corpus-sized one — never replicates (snap_join's
one-sided asymmetry argument).

The DuckDB oracle is the INDEPENDENT brute-force O(cells x zones)
non-equi cross join with the same overlap formula and no grid
explode, honest because the fixture bounds both directories.

No reference counterpart (specvital/core has no raster subsystem);
the method is the published areal-weighting formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.operators import gridblock as gb


def areal_interpolate(
    cells: DataFrame,
    zones: DataFrame,
    g: int,
    zone_key: str = "zone_id",
) -> DataFrame:
    """Per-zone areal-weighted estimate from G x G raster cells.

    ``cells``: (cx, cy, value BIGINT). ``zones``: (zone_id, xmin, ymin,
    xmax, ymax BIGINT, closed-open). Output: zone_id, n_cells,
    est_scaled (= sum(value*overlap), exact, denominator g^2),
    est (DOUBLE, the one division). Zones touching no occupied cell
    are absent (inner join); degenerate zones drop on ingest.
    """
    gi = int(g)
    if gi <= 0:
        raise ValueError(f"areal_interpolate: g must be > 0, got {g}")
    c = cells.selectExpr(
        "CAST(cx AS BIGINT) AS cx", "CAST(cy AS BIGINT) AS cy",
        "CAST(value AS BIGINT) AS value",
    ).where("cx IS NOT NULL AND cy IS NOT NULL AND value IS NOT NULL")
    z = zones.selectExpr(
        f"{zone_key} AS zone_id",
        "CAST(xmin AS BIGINT) AS zx0", "CAST(ymin AS BIGINT) AS zy0",
        "CAST(xmax AS BIGINT) AS zx1", "CAST(ymax AS BIGINT) AS zy1",
    ).where(
        "zx0 IS NOT NULL AND zy0 IS NOT NULL AND zx1 IS NOT NULL"
        " AND zy1 IS NOT NULL AND zx0 < zx1 AND zy0 < zy1"
    )
    # map-side explode of the zone rectangle into covered cell ids;
    # closed-open right edge -> last covered cell is floor((zx1-1)/G)
    zg = z.selectExpr(
        "zone_id", "zx0", "zy0", "zx1", "zy1",
        f"{gb.cover('zx0', 'zx1 - 1', gi)} AS cx",
    ).selectExpr("*", f"{gb.cover('zy0', 'zy1 - 1', gi)} AS cy")
    joined = zg.join(c, ["cx", "cy"]).selectExpr(
        "zone_id", "value",
        f"least(cx * {gi} + {gi}, zx1) - greatest(cx * {gi}, zx0) AS _ow",
        f"least(cy * {gi} + {gi}, zy1) - greatest(cy * {gi}, zy0) AS _oh",
    )
    return (
        joined.selectExpr("zone_id", "value * _ow * _oh AS _mass")
        .groupBy("zone_id")
        .agg(F.count(F.lit(1)).alias("n_cells"),
             F.sum("_mass").alias("est_scaled"))
        .selectExpr(
            "zone_id", "n_cells", "est_scaled",
            f"CAST(est_scaled AS DOUBLE) / {gi * gi}.0 AS est",
        )
    )


def sql_areal_interpolate(
    cells_sql: str,
    zones_sql: str,
    g: int,
    zone_key: str = "zone_id",
) -> str:
    """DuckDB twin: brute-force non-equi cross join, same overlap
    formula, no grid explode — the independent plan."""
    gi = int(g)
    return f"""
WITH c AS (
  SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
         CAST(value AS BIGINT) AS value
  FROM ({cells_sql})
  WHERE cx IS NOT NULL AND cy IS NOT NULL AND value IS NOT NULL
),
z AS (
  SELECT {zone_key} AS zone_id,
         CAST(xmin AS BIGINT) AS zx0, CAST(ymin AS BIGINT) AS zy0,
         CAST(xmax AS BIGINT) AS zx1, CAST(ymax AS BIGINT) AS zy1
  FROM ({zones_sql})
  WHERE xmin IS NOT NULL AND ymin IS NOT NULL AND xmax IS NOT NULL
    AND ymax IS NOT NULL AND xmin < xmax AND ymin < ymax
),
ov AS (
  SELECT z.zone_id, c.value,
         LEAST(c.cx * {gi} + {gi}, z.zx1)
           - GREATEST(c.cx * {gi}, z.zx0) AS ow,
         LEAST(c.cy * {gi} + {gi}, z.zy1)
           - GREATEST(c.cy * {gi}, z.zy0) AS oh
  FROM c, z
  WHERE c.cx * {gi} < z.zx1 AND z.zx0 < c.cx * {gi} + {gi}
    AND c.cy * {gi} < z.zy1 AND z.zy0 < c.cy * {gi} + {gi}
)
SELECT zone_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(value * ow * oh) AS BIGINT) AS est_scaled,
       CAST(CAST(SUM(value * ow * oh) AS BIGINT) AS DOUBLE)
         / {gi * gi}.0 AS est
FROM ov GROUP BY zone_id
"""
