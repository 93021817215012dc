"""Segment-intersection join: the line-overlay primitive, PBSM-blocked.

rectjoin.py pairs BOXES; real overlay analysis pairs LINE WORK — which
roads cross which admin borders, which trajectories cross which
coastlines, which sitemap-discovered routes cross a polygon's boundary.
That is the red-blue segment-intersection join: given two segment
tables, find every (left, right) pair whose closed segments share at
least one point.

The predicate is the classic orientation-test battery (CLRS 33.1),
exact on BIGINT endpoints because every branch is a cross product —
integer multiply/subtract, no division, no epsilon:

    d1 = cross(q1, q2, p1)   d2 = cross(q1, q2, p2)
    d3 = cross(p1, p2, q1)   d4 = cross(p1, p2, q2)

proper crossing when d1,d2 straddle AND d3,d4 straddle; otherwise the
four collinear-touch arms (d == 0 and the endpoint inside the other
segment's bbox — bbox containment IS on-segment once collinear).
Degenerate (point) segments fall out of the same arms. Touching
endpoints COUNT (closed semantics), matching rectjoin's closed
intervals.

The blocking is PBSM on segment ENVELOPES with the reference-point
trick (Patel & DeWitt 1996, same machinery as rectjoin, gridblock.py):
each segment replicates to the grid cells its bbox covers (map-side
sequence explode, bounded by segment length over g), candidates meet in ONE
equi shuffle on uniform integer cell keys, and a pair is EMITTED only
in the canonical cell holding the lower-left corner of the bbox
intersection — a pair sharing 40 cells appears exactly once with no
dedup shuffle. The exact battery then runs JVM-side as stepwise
codegen'd columns (d1..d4 computed once each — the CLAUDE.md stepwise
rule: never inline an expression a downstream predicate references
repeatedly).

At 100 TB: replication is bounded by segment-length/g (long roads are
pre-split upstream, the standard PBSM knob); a dense-city mega-cell is
one hot key — AQE skew-join territory, same caveat as rectjoin; zero
Python anywhere.

The DuckDB twin is the honest O(n*m) cross join with the same closed
predicate — an INDEPENDENT plan (no grid, no reference point), so the
blocking's completeness (does every intersecting pair share the
canonical cell?) is exactly what the cross-engine gate verifies.

No reference counterpart (specvital/core has no spatial subsystem);
the algorithm is the published PBSM join over the CLRS segment test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.operators import gridblock as gb

_SEG_COLS = ("x1", "y1", "x2", "y2")


def _prep(df: DataFrame, key: str, side: str, g: float) -> DataFrame:
    """Validate, canonicalize the bbox, and grid-replicate one side."""
    base = df.selectExpr(
        f"{key} AS {side}_id",
        *[f"CAST({c} AS BIGINT) AS {side}_{c}" for c in _SEG_COLS],
    ).where(
        " AND ".join(f"{side}_{c} IS NOT NULL" for c in _SEG_COLS)
    )
    s = side
    return base.selectExpr(
        f"{s}_id", f"{s}_x1", f"{s}_y1", f"{s}_x2", f"{s}_y2",
        f"least({s}_x1, {s}_x2) AS {s}_xmin",
        f"least({s}_y1, {s}_y2) AS {s}_ymin",
        f"greatest({s}_x1, {s}_x2) AS {s}_xmax",
        f"greatest({s}_y1, {s}_y2) AS {s}_ymax",
    ).selectExpr(
        "*",
        f"{gb.cover(f'{s}_xmin', f'{s}_xmax', g)} AS _cx",
    ).selectExpr(
        "*", f"{gb.cover(f'{s}_ymin', f'{s}_ymax', g)} AS _cy",
    )


#: stepwise cross-product columns (a = left segment p1p2, b = right q1q2)
_D_EXPRS = {
    "_d1": "(b_x2 - b_x1) * (a_y1 - b_y1) - (b_y2 - b_y1) * (a_x1 - b_x1)",
    "_d2": "(b_x2 - b_x1) * (a_y2 - b_y1) - (b_y2 - b_y1) * (a_x2 - b_x1)",
    "_d3": "(a_x2 - a_x1) * (b_y1 - a_y1) - (a_y2 - a_y1) * (b_x1 - a_x1)",
    "_d4": "(a_x2 - a_x1) * (b_y2 - a_y1) - (a_y2 - a_y1) * (b_x2 - a_x1)",
}

_INTERSECTS = (
    "((_d1 > 0 AND _d2 < 0) OR (_d1 < 0 AND _d2 > 0))"
    " AND ((_d3 > 0 AND _d4 < 0) OR (_d3 < 0 AND _d4 > 0))"
    " OR (_d1 = 0 AND b_xmin <= a_x1 AND a_x1 <= b_xmax"
    "      AND b_ymin <= a_y1 AND a_y1 <= b_ymax)"
    " OR (_d2 = 0 AND b_xmin <= a_x2 AND a_x2 <= b_xmax"
    "      AND b_ymin <= a_y2 AND a_y2 <= b_ymax)"
    " OR (_d3 = 0 AND a_xmin <= b_x1 AND b_x1 <= a_xmax"
    "      AND a_ymin <= b_y1 AND b_y1 <= a_ymax)"
    " OR (_d4 = 0 AND a_xmin <= b_x2 AND b_x2 <= a_xmax"
    "      AND a_ymin <= b_y2 AND b_y2 <= a_ymax)"
)


def segment_join(
    left: DataFrame,
    right: DataFrame,
    cell: float,
    left_key: str = "seg_id",
    right_key: str = "seg_id",
) -> DataFrame:
    """(a, b) for every intersecting (left, right) segment pair, once.

    Segments are closed: shared endpoints and collinear overlaps count.
    Endpoint columns x1, y1, x2, y2 must be integral (BIGINT contract,
    same as hull.py — callers fixed-point scale); NULL endpoints drop.
    """
    g = float(cell)
    if g <= 0:
        raise ValueError(f"segment_join: cell must be > 0, got {cell}")
    a = _prep(left, left_key, "a", g)
    b = _prep(right, right_key, "b", g)
    ref = (
        f"_cx = {gb.cell('greatest(a_xmin, b_xmin)', g)}"
        f" AND _cy = {gb.cell('greatest(a_ymin, b_ymin)', g)}"
    )
    bbox = ("a_xmin <= b_xmax AND b_xmin <= a_xmax"
            " AND a_ymin <= b_ymax AND b_ymin <= a_ymax")
    joined = a.join(b, ["_cx", "_cy"]).filter(F.expr(f"{bbox} AND {ref}"))
    stepped = joined.selectExpr(
        "*", *[f"{e} AS {c}" for c, e in _D_EXPRS.items()]
    )
    return (
        stepped.filter(F.expr(_INTERSECTS))
        .selectExpr("a_id AS a", "b_id AS b")
    )


def sql_segment_join(
    left_sql: str, right_sql: str,
    left_key: str = "seg_id", right_key: str = "seg_id",
) -> str:
    """DuckDB twin: honest O(n*m) cross join, same closed predicate,
    no grid — the independent plan that gates the blocking."""
    d1 = "(b_x2 - b_x1) * (a_y1 - b_y1) - (b_y2 - b_y1) * (a_x1 - b_x1)"
    d2 = "(b_x2 - b_x1) * (a_y2 - b_y1) - (b_y2 - b_y1) * (a_x2 - b_x1)"
    d3 = "(a_x2 - a_x1) * (b_y1 - a_y1) - (a_y2 - a_y1) * (b_x1 - a_x1)"
    d4 = "(a_x2 - a_x1) * (b_y2 - a_y1) - (a_y2 - a_y1) * (b_x2 - a_x1)"
    return f"""
WITH la AS (
  SELECT {left_key} AS a_id,
         CAST(x1 AS BIGINT) AS a_x1, CAST(y1 AS BIGINT) AS a_y1,
         CAST(x2 AS BIGINT) AS a_x2, CAST(y2 AS BIGINT) AS a_y2
  FROM ({left_sql})
  WHERE x1 IS NOT NULL AND y1 IS NOT NULL
    AND x2 IS NOT NULL AND y2 IS NOT NULL
),
rb AS (
  SELECT {right_key} AS b_id,
         CAST(x1 AS BIGINT) AS b_x1, CAST(y1 AS BIGINT) AS b_y1,
         CAST(x2 AS BIGINT) AS b_x2, CAST(y2 AS BIGINT) AS b_y2
  FROM ({right_sql})
  WHERE x1 IS NOT NULL AND y1 IS NOT NULL
    AND x2 IS NOT NULL AND y2 IS NOT NULL
),
cand AS (
  SELECT a_id, b_id,
         {d1} AS _d1, {d2} AS _d2, {d3} AS _d3, {d4} AS _d4,
         LEAST(a_x1, a_x2) AS a_xmin, LEAST(a_y1, a_y2) AS a_ymin,
         GREATEST(a_x1, a_x2) AS a_xmax, GREATEST(a_y1, a_y2) AS a_ymax,
         LEAST(b_x1, b_x2) AS b_xmin, LEAST(b_y1, b_y2) AS b_ymin,
         GREATEST(b_x1, b_x2) AS b_xmax, GREATEST(b_y1, b_y2) AS b_ymax,
         a_x1, a_y1, a_x2, a_y2, b_x1, b_y1, b_x2, b_y2
  FROM la, rb
)
SELECT a_id AS a, b_id AS b FROM cand
WHERE ((_d1 > 0 AND _d2 < 0) OR (_d1 < 0 AND _d2 > 0))
      AND ((_d3 > 0 AND _d4 < 0) OR (_d3 < 0 AND _d4 > 0))
   OR (_d1 = 0 AND b_xmin <= a_x1 AND a_x1 <= b_xmax
        AND b_ymin <= a_y1 AND a_y1 <= b_ymax)
   OR (_d2 = 0 AND b_xmin <= a_x2 AND a_x2 <= b_xmax
        AND b_ymin <= a_y2 AND a_y2 <= b_ymax)
   OR (_d3 = 0 AND a_xmin <= b_x1 AND b_x1 <= a_xmax
        AND a_ymin <= b_y1 AND b_y1 <= a_ymax)
   OR (_d4 = 0 AND a_xmin <= b_x2 AND b_x2 <= a_xmax
        AND a_ymin <= b_y2 AND b_y2 <= a_ymax)
"""
