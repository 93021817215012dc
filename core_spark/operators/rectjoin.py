"""Rectangle-intersection join (PBSM): the general spatial-join primitive.

rangejoin.py joins POINTS within a radius; polygon/polygon and
envelope/envelope joins need the rectangle version — find every pair
of axis-aligned boxes that intersect. This is the candidate generator
under every real polygon join (join the ENVELOPES first, refine exact
geometry on the survivors — exactly how pip.py's STRtree works inside
one machine, lifted to a shuffle plan).

The algorithm is Partition-Based Spatial Merge join (Patel & DeWitt
1996), with its signature trick intact: each rect replicates to every
grid cell its extent covers (``gridblock.cover``), candidates meet on
the cell key, and a pair is emitted only in the cell holding the lower-
left corner of the intersection — reference-point dedup, not DISTINCT
(the steps and why they are complete are in gridblock.py). The exact
predicate is closed-interval overlap (touching edges COUNT —
``a.xmin <= b.xmax AND b.xmin <= a.xmax``, same for y), ``a < b`` so
each unordered pair appears once.

At 100 TB: one equi shuffle on uniform integer cell keys; replication
is per-rect bounded (admin boundaries are small relative to a sane
``g``); a dense-city mega-cell is one hot key — AQE skew-join splits
it, and halving ``g`` trades replication for balance (same knob story
as rangejoin). The gridded table is pinned once for the self-join.

Coordinates are planar (the repo's equirectangular convention);
negative coordinates are fine — ``floor`` division grids them
consistently. The DuckDB twin is the honest O(n²) cross-join, an
independent plan feasible at fixture scale.

No reference counterpart (specvital/core has no spatial subsystem);
the algorithm is the published PBSM join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.operators import gridblock as gb
from core_spark.plans.materialize import pin


def rect_join_pairs(
    df: DataFrame,
    cell: float,
    key: str = "rect_id",
    xmin: str = "xmin",
    ymin: str = "ymin",
    xmax: str = "xmax",
    ymax: str = "ymax",
) -> DataFrame:
    """(a, b) for every intersecting rect pair, a < b, exactly once."""
    g = float(cell)
    if g <= 0:
        raise ValueError(f"rect_join_pairs: cell must be > 0, got {cell}")
    # malformed rects (min > max, or NULL bounds) are dropped on ingest
    # on BOTH engines: a min>max rect would grid to a REVERSED cell
    # sequence whose set can miss the reference cell, silently diverging
    # from the brute-force twin (which would still pair it) — the same
    # hygiene rule as redirects/cmsketch, here correctness-load-bearing
    base = pin(
        df.select(key, xmin, ymin, xmax, ymax).where(
            f"{xmin} <= {xmax} AND {ymin} <= {ymax}"
        )
    )
    gridded = base.selectExpr(
        f"{key} AS _k",
        f"{xmin} AS _x0", f"{ymin} AS _y0",
        f"{xmax} AS _x1", f"{ymax} AS _y1",
        f"{gb.cover(xmin, xmax, g)} AS _cx",
    ).selectExpr(
        "_k", "_x0", "_y0", "_x1", "_y1", "_cx",
        f"{gb.cover('_y0', '_y1', g)} AS _cy",
    )
    gridded = pin(gridded)
    a = gridded.select(
        F.col("_k").alias("a"),
        F.col("_x0").alias("_ax0"), F.col("_y0").alias("_ay0"),
        F.col("_x1").alias("_ax1"), F.col("_y1").alias("_ay1"),
        "_cx", "_cy",
    )
    b = gridded.select(
        F.col("_k").alias("b"),
        F.col("_x0").alias("_bx0"), F.col("_y0").alias("_by0"),
        F.col("_x1").alias("_bx1"), F.col("_y1").alias("_by1"),
        "_cx", "_cy",
    )
    overlap = (
        "a < b"
        " AND _ax0 <= _bx1 AND _bx0 <= _ax1"
        " AND _ay0 <= _by1 AND _by0 <= _ay1"
    )
    # reference point: the intersection's lower-left corner's cell
    ref = (
        f"_cx = {gb.cell('greatest(_ax0, _bx0)', g)}"
        f" AND _cy = {gb.cell('greatest(_ay0, _by0)', g)}"
    )
    return (
        a.join(b, ["_cx", "_cy"])
        .filter(F.expr(f"{overlap} AND {ref}"))
        .select("a", "b")
    )


def sql_rect_join_pairs(
    rects_sql: str,
    key: str = "rect_id",
    xmin: str = "xmin",
    ymin: str = "ymin",
    xmax: str = "xmax",
    ymax: str = "ymax",
) -> str:
    """DuckDB twin: the honest O(n²) cross-join (independent plan);
    malformed rects dropped on ingest like the Spark side."""
    well = (
        f"SELECT * FROM ({rects_sql})"
        f" WHERE {xmin} <= {xmax} AND {ymin} <= {ymax}"
    )
    return f"""
        SELECT p.{key} AS a, q.{key} AS b
        FROM ({well}) p, ({well}) q
        WHERE p.{key} < q.{key}
          AND p.{xmin} <= q.{xmax} AND q.{xmin} <= p.{xmax}
          AND p.{ymin} <= q.{ymax} AND q.{ymin} <= p.{ymax}
    """
