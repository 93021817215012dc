"""Spatial range join (all point pairs within a radius) via grid blocking.

The classic "find everything near everything" self-join that a naive plan
turns into an O(n²) cartesian. This is the grid-file / epsilon-grid join:

1. bucket every point into a square grid of cell size = radius
   (``floor(lat/r)``, ``floor(lon/r)``) — one projection;
2. replicate the LEFT side into its 3×3 neighborhood (explode ×9,
   map-side, ``gridblock.neighbours``); the right side stays in its
   home bucket, so every qualifying pair (|Δlat| < r and |Δlon| < r ⇒
   bucket delta ≤ 1 per axis) is matched EXACTLY once — no post-join
   dedup pass;
3. equi-join on the bucket key (uniform keys at web scale; a dense-city
   mega-bucket is one hot key — AQE skew-join splits it, and the cell
   size can be halved with a 5×5 neighborhood when one bucket exceeds
   executor memory: documented knob, not implemented speculation);
4. exact predicate: planar squared distance < r² and key_a < key_b
   (symmetric pairs emitted once).

Distances are PLANAR over equirectangular lon/lat — the same lattice
convention as the hexgrid (CLAUDE.md "known geometry caveat": not
periodic across ±180 nor beyond the poles; great-circle semantics would
need trig, which the oracle portability rules forbid in compared
values). The compared distance is emitted as an exact integer
(``FLOOR(dist² · 1e6)``).

The bucketed input is eagerly pinned (``plans.materialize.pin``): both sides of the
self-join would otherwise re-evaluate the upstream plan (CLAUDE.md
self-join rule; swap for reliable checkpoint on a real cluster).

SURVEY ref: the task brief names "range join" as a custom operator Spark
lacks; specvital/core has no spatial subsystem (geospatial semantics are
this graft's own, reference-cited at the hexgrid/PIP/kNN modules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.operators import gridblock as gb
from core_spark.plans.materialize import pin


def range_join_pairs(
    df: DataFrame,
    radius: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    key: str = "doc_id",
) -> DataFrame:
    """(a, b, dist_sq_micro) for every pair with planar dist² < radius²,
    a < b. One explode(×9) + one equi shuffle join — never a cartesian."""
    r = float(radius)
    pts = df.select(key, lat_col, lon_col).transform(pin)
    home = {"_bx": gb.cell(lat_col, r), "_by": gb.cell(lon_col, r)}
    left = gb.neighbours(
        pts, [f"{key} AS a", f"{lat_col} AS _alat", f"{lon_col} AS _alon"],
        home,
    )
    right = pts.selectExpr(
        f"{key} AS b", f"{lat_col} AS _blat", f"{lon_col} AS _blon",
        *[f"{e} AS {c}" for c, e in home.items()],
    )
    d2 = (
        "(_alat - _blat) * (_alat - _blat)"
        " + (_alon - _blon) * (_alon - _blon)"
    )
    return (
        left.join(right, ["_bx", "_by"])
        .filter(F.expr(f"a < b AND {d2} < {r * r!r}"))
        .select(
            "a",
            "b",
            F.expr(f"CAST(FLOOR(({d2}) * 1000000) AS BIGINT)").alias(
                "dist_sq_micro"
            ),
        )
    )


def sql_range_join_pairs(
    points_sql: str,
    radius: float,
    key: str = "doc_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> str:
    """DuckDB oracle twin: the honest brute-force O(n²) cross join —
    an independent plan, feasible at fixture scale."""
    r = float(radius)
    d2 = (
        f"(p.{lat_col} - q.{lat_col}) * (p.{lat_col} - q.{lat_col})"
        f" + (p.{lon_col} - q.{lon_col}) * (p.{lon_col} - q.{lon_col})"
    )
    return f"""
        SELECT p.{key} AS a, q.{key} AS b,
               CAST(FLOOR(({d2}) * 1000000) AS BIGINT) AS dist_sq_micro
        FROM ({points_sql}) p, ({points_sql}) q
        WHERE p.{key} < q.{key} AND {d2} < {r * r!r}
    """
