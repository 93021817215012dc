"""Point-to-segment snap join: the map-matching primitive.

The spatial-join family closes with this operator: rangejoin pairs
point<->point, rectjoin box<->box, segjoin segment<->segment, pip
point<->polygon — and snapping pairs point<->segment: which road
segments is this GPS ping / geoparsed coordinate within ``eps`` of?
That candidate set is step one of every map-matching, address-snapping,
and road-conflation pipeline (the HMM/route step that follows is
per-trajectory business logic; the join is the distributed part).

Exact predicate, zero floats: with BIGINT coordinates, the squared
distance from P to segment AB compares against eps^2 by clearing the
one rational denominator. Let ab = B-A, ap = P-A, t_num = ap.ab,
t_den = |ab|^2:

    t_den = 0 or t_num <= 0  ->  |P-A|^2 <= eps^2      (before A / point)
    t_num >= t_den           ->  |P-B|^2 <= eps^2      (beyond B)
    else                     ->  |ap|^2 * t_den - t_num^2 <= eps^2 * t_den

(the perpendicular case multiplies through by t_den > 0 — same
segment-clamped form simplify.py fuzz-proved; the infinite-line
shortcut is exactly the bug it caught). Every branch is integer
multiply/compare: no epsilon tuning, no near-parallel instability.
Overflow contract: coord ranges^2 * t_den must fit int64 (~10^4-scale
fixed-point coords are safe); callers pre-scale.

Blocking is ONE-SIDED grid replication, and that asymmetry is the
point: each segment replicates to every cell its eps-EXPANDED bbox
covers (map-side, bounded by (length + 2 eps)/g), while each point
stays in its single home cell — so any (point, segment) pair within
eps meets in EXACTLY one cell (the point's) and no reference-point
dedup is needed at all. One uniform-key equi shuffle; the big side
(points) never replicates, which is the right trade at 10^12 points
vs 10^7 road segments. Dense-city mega-cells are one hot key (AQE
skew-join, the family's standard caveat); halving g trades segment
replication for balance.

The DuckDB twin is the honest O(n*m) cross join with the same
branch predicate and NO grid — the independent plan that gates the
expanded-bbox blocking's completeness.

No reference counterpart (specvital/core has no spatial subsystem);
the predicate is the standard segment-clamped point distance, the
blocking is PBSM's (Patel & DeWitt 1996) one-sided variant
(gridblock.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.operators import gridblock as gb

_STEPS = {
    "_abx": "s_x2 - s_x1", "_aby": "s_y2 - s_y1",
    "_apx": "p_x - s_x1", "_apy": "p_y - s_y1",
    "_bpx": "p_x - s_x2", "_bpy": "p_y - s_y2",
}
_STEPS2 = {
    "_tn": "_apx * _abx + _apy * _aby",
    "_td": "_abx * _abx + _aby * _aby",
    "_ap2": "_apx * _apx + _apy * _apy",
    "_bp2": "_bpx * _bpx + _bpy * _bpy",
}


def _within(eps2: int) -> str:
    return (
        f"CASE WHEN _td = 0 OR _tn <= 0 THEN _ap2 <= {eps2}"
        f" WHEN _tn >= _td THEN _bp2 <= {eps2}"
        f" ELSE _ap2 * _td - _tn * _tn <= {eps2} * _td END"
    )


def _candidates(
    points: DataFrame, segments: DataFrame, eps: int, g: float
) -> DataFrame:
    """Grid-blocked (point, segment) candidates with the _STEPS/_STEPS2
    columns the distance predicate reads. ``points``: the caller's key
    columns plus NULL-free BIGINT ``p_x``, ``p_y``. ``segments``: ``seg``
    plus raw x1, y1, x2, y2 (cast here; NULL endpoints drop). Each
    segment covers the cells of its eps-expanded bbox; each point stays
    in its home cell."""
    p = points.selectExpr(
        "*", f"{gb.cell('p_x', g)} AS _cx", f"{gb.cell('p_y', g)} AS _cy",
    )
    s = segments.selectExpr(
        "seg",
        "CAST(x1 AS BIGINT) AS s_x1", "CAST(y1 AS BIGINT) AS s_y1",
        "CAST(x2 AS BIGINT) AS s_x2", "CAST(y2 AS BIGINT) AS s_y2",
    ).where(
        "s_x1 IS NOT NULL AND s_y1 IS NOT NULL"
        " AND s_x2 IS NOT NULL AND s_y2 IS NOT NULL"
    ).selectExpr(
        "seg", "s_x1", "s_y1", "s_x2", "s_y2",
        gb.cover(f"least(s_x1, s_x2) - {eps}",
                 f"greatest(s_x1, s_x2) + {eps}", g) + " AS _cx",
    ).selectExpr(
        "*",
        gb.cover(f"least(s_y1, s_y2) - {eps}",
                 f"greatest(s_y1, s_y2) + {eps}", g) + " AS _cy",
    )
    return (
        p.join(s, ["_cx", "_cy"])
        .selectExpr("*", *[f"{x} AS {c}" for c, x in _STEPS.items()])
        .selectExpr("*", *[f"{x} AS {c}" for c, x in _STEPS2.items()])
    )


def snap_join(
    points: DataFrame,
    segments: DataFrame,
    eps: int,
    cell: float,
    point_key: str = "pt_id",
    seg_key: str = "seg_id",
) -> DataFrame:
    """(pt, seg) for every point within ``eps`` of a segment (closed:
    distance exactly eps counts). Coordinates BIGINT by contract
    (points: x, y; segments: x1, y1, x2, y2); NULLs drop; eps >= 0."""
    g = float(cell)
    if g <= 0:
        raise ValueError(f"snap_join: cell must be > 0, got {cell}")
    e = int(eps)
    if e < 0:
        raise ValueError(f"snap_join: eps must be >= 0, got {eps}")
    p = points.selectExpr(
        f"{point_key} AS pt", "CAST(x AS BIGINT) AS p_x",
        "CAST(y AS BIGINT) AS p_y",
    ).where("p_x IS NOT NULL AND p_y IS NOT NULL")
    s = segments.selectExpr(f"{seg_key} AS seg", "x1", "y1", "x2", "y2")
    return (
        _candidates(p, s, e, g)
        .filter(F.expr(_within(e * e)))
        .selectExpr("pt", "seg")
    )


def sql_snap_join(
    points_sql: str,
    segments_sql: str,
    eps: int,
    point_key: str = "pt_id",
    seg_key: str = "seg_id",
) -> str:
    """DuckDB twin: honest O(n*m) cross join, same branch predicate,
    no grid — the independent plan gating the blocking."""
    e = int(eps)
    eps2 = e * e
    return f"""
WITH snap_pts_ AS (
  SELECT {point_key} AS pt,
         CAST(x AS BIGINT) AS p_x, CAST(y AS BIGINT) AS p_y
  FROM ({points_sql}) WHERE x IS NOT NULL AND y IS NOT NULL
),
snap_segs_ AS (
  SELECT {seg_key} AS seg,
         CAST(x1 AS BIGINT) AS s_x1, CAST(y1 AS BIGINT) AS s_y1,
         CAST(x2 AS BIGINT) AS s_x2, CAST(y2 AS BIGINT) AS s_y2
  FROM ({segments_sql})
  WHERE x1 IS NOT NULL AND y1 IS NOT NULL
    AND x2 IS NOT NULL AND y2 IS NOT NULL
),
cand AS (
  SELECT pt, seg,
         (p_x - s_x1) * (s_x2 - s_x1) + (p_y - s_y1) * (s_y2 - s_y1) AS _tn,
         (s_x2 - s_x1) * (s_x2 - s_x1)
           + (s_y2 - s_y1) * (s_y2 - s_y1) AS _td,
         (p_x - s_x1) * (p_x - s_x1) + (p_y - s_y1) * (p_y - s_y1) AS _ap2,
         (p_x - s_x2) * (p_x - s_x2) + (p_y - s_y2) * (p_y - s_y2) AS _bp2
  FROM snap_pts_, snap_segs_
)
SELECT pt, seg FROM cand
WHERE CASE WHEN _td = 0 OR _tn <= 0 THEN _ap2 <= {eps2}
           WHEN _tn >= _td THEN _bp2 <= {eps2}
           ELSE _ap2 * _td - _tn * _tn <= {eps2} * _td END
"""
