"""Greedy map matching: ping → nearest road, sequence → transitions.

``snap.py`` produces the CANDIDATE set (every segment within eps of a
ping); this operator finishes the distributed part of map matching:
pick each ping's single best segment, then roll each entity's
time-ordered matched sequence into road-to-road transition counts —
the road-network flow matrix (odmatrix.py's cells replaced by road
segments). The HMM/Viterbi refinement the literature adds on top is
per-trajectory business logic over exactly these candidates; the
joins and windows here are the part that has to scale.

Best-segment selection must compare distances ACROSS segments, whose
exact squared distances are rationals with DIFFERENT denominators
(perpendicular case: (ap²·td − tn²)/td) — a cross-multiplied
comparison can't ride a plain MIN. The selection key is therefore
the IEEE double num/den (one division; correctly rounded, so equal
rationals are equal doubles and both engines order identically) with
the segment id as the deterministic tie-break inside a min(STRUCT).
Sub-ulp rational distinctions may tie in double and fall to the id —
a DEFINED, deterministic, cross-engine-stable choice (documented
trade; the exact cross-multiplied argmin would need a pairwise join
per ping). eps and coordinates follow snap.py's BIGINT fixed-point
contract.

Plan shape: the candidate stage IS snap.py's (``snap._candidates`` —
one-sided eps-expanded segment replication, points never replicate,
one uniform equi shuffle, see gridblock.py) with the distance key kept;
argmin is one (ping)-keyed hash-agg; transitions are one lag window
whose (entity) clustering the final count hash-agg reuses. Pings
with NO road within eps drop out of the sequence — transitions read
"consecutive MATCHED pings"; same-segment dwells are not transitions.

The DuckDB twin composes the gridless O(n·m) snap with a ROW_NUMBER
argmin — independent of both the blocking and the struct-extrema
mechanism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from core_spark.operators.snap import _candidates, _within

_DKEY = (
    "CAST(CASE WHEN _td = 0 OR _tn <= 0 THEN _ap2"
    " WHEN _tn >= _td THEN _bp2"
    " ELSE _ap2 * _td - _tn * _tn END AS DOUBLE)"
    " / CAST(CASE WHEN _td = 0 OR _tn <= 0 OR _tn >= _td"
    " THEN 1 ELSE _td END AS DOUBLE)"
)


def map_match(
    pings: DataFrame,
    roads: DataFrame,
    eps: int,
    cell: float,
    entity_col: str = "user_id",
    seq_col: str = "event_id",
    seg_key: str = "seg_id",
) -> DataFrame:
    """(road_from, road_to, n_transitions) over every entity's
    time-ordered nearest-road sequence. ``pings`` carries (entity,
    seq, x, y) with BIGINT fixed-point coords; ``roads`` is snap.py's
    segment directory (seg_id, x1, y1, x2, y2)."""
    g = float(cell)
    if g <= 0:
        raise ValueError(f"map_match: cell must be > 0, got {cell}")
    e = int(eps)
    if e < 0:
        raise ValueError(f"map_match: eps must be >= 0, got {eps}")
    p = pings.selectExpr(
        f"{entity_col} AS _e", f"{seq_col} AS _q",
        "CAST(x AS BIGINT) AS p_x", "CAST(y AS BIGINT) AS p_y",
    ).where(
        "_e IS NOT NULL AND _q IS NOT NULL"
        " AND p_x IS NOT NULL AND p_y IS NOT NULL"
    )
    s = roads.selectExpr(f"{seg_key} AS seg", "x1", "y1", "x2", "y2")
    stepped = _candidates(p, s, e, g)
    best = (
        stepped.filter(F.expr(_within(e * e)))
        .selectExpr("_e", "_q", f"{_DKEY} AS _dk", "seg")
        .groupBy("_e", "_q")
        .agg(F.min(F.struct("_dk", "seg")).alias("_best"))
        .selectExpr("_e", "_q", "_best.seg AS _road")
    )
    w = Window.partitionBy("_e").orderBy("_q")
    return (
        best.select(
            "_e", "_road", F.lag("_road").over(w).alias("_prev"))
        .where("_prev IS NOT NULL AND _prev != _road")
        .groupBy(F.col("_prev").alias("road_from"),
                 F.col("_road").alias("road_to"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )


def sql_map_match(
    pings_sql: str,
    roads_sql: str,
    eps: int,
    entity_col: str = "user_id",
    seq_col: str = "event_id",
    seg_key: str = "seg_id",
) -> str:
    """DuckDB twin: gridless O(n·m) snap + ROW_NUMBER argmin + lag —
    independent of the blocking and of struct extrema."""
    e = int(eps)
    eps2 = e * e
    return f"""
WITH mm_pts AS (
  SELECT {entity_col} AS _e, {seq_col} AS _q,
         CAST(x AS BIGINT) AS p_x, CAST(y AS BIGINT) AS p_y
  FROM ({pings_sql})
  WHERE {entity_col} IS NOT NULL AND {seq_col} IS NOT NULL
    AND x IS NOT NULL AND y IS NOT NULL
),
mm_segs AS (
  SELECT {seg_key} AS seg,
         CAST(x1 AS BIGINT) AS s_x1, CAST(y1 AS BIGINT) AS s_y1,
         CAST(x2 AS BIGINT) AS s_x2, CAST(y2 AS BIGINT) AS s_y2
  FROM ({roads_sql})
  WHERE x1 IS NOT NULL AND y1 IS NOT NULL
    AND x2 IS NOT NULL AND y2 IS NOT NULL
),
cand AS (
  SELECT _e, _q, seg,
         (p_x - s_x1) * (s_x2 - s_x1) + (p_y - s_y1) * (s_y2 - s_y1) AS _tn,
         (s_x2 - s_x1) * (s_x2 - s_x1)
           + (s_y2 - s_y1) * (s_y2 - s_y1) AS _td,
         (p_x - s_x1) * (p_x - s_x1) + (p_y - s_y1) * (p_y - s_y1) AS _ap2,
         (p_x - s_x2) * (p_x - s_x2) + (p_y - s_y2) * (p_y - s_y2) AS _bp2
  FROM mm_pts, mm_segs
),
hit AS (
  SELECT _e, _q, seg,
         CAST(CASE WHEN _td = 0 OR _tn <= 0 THEN _ap2
              WHEN _tn >= _td THEN _bp2
              ELSE _ap2 * _td - _tn * _tn END AS DOUBLE)
           / CAST(CASE WHEN _td = 0 OR _tn <= 0 OR _tn >= _td
              THEN 1 ELSE _td END AS DOUBLE) AS _dk
  FROM cand
  WHERE CASE WHEN _td = 0 OR _tn <= 0 THEN _ap2 <= {eps2}
             WHEN _tn >= _td THEN _bp2 <= {eps2}
             ELSE _ap2 * _td - _tn * _tn <= {eps2} * _td END
),
best AS (
  SELECT _e, _q, seg AS _road
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY _e, _q ORDER BY _dk, seg) AS _rk FROM hit)
  WHERE _rk = 1
),
seq AS (
  SELECT _e, _road,
         LAG(_road) OVER (PARTITION BY _e ORDER BY _q) AS _prev
  FROM best
)
SELECT _prev AS road_from, _road AS road_to,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM seq WHERE _prev IS NOT NULL AND _prev != _road
GROUP BY 1, 2
"""
