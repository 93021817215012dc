"""Spatiotemporal contact join: near in space AND near in time.

rangejoin.py answers "which pairs were ever close"; real trajectory
analytics ask the stricter question — which pairs were close AT THE
SAME TIME: co-location/contact events, convoy detection's first stage,
rendezvous mining over check-in streams. The predicate is the
conjunction

    (dx^2 + dy^2 <= eps^2)  AND  |dt| <= tau

over BIGINT (x, y, t) — quantized fixed-point coordinates and epoch
ticks, so the whole test is exact integer arithmetic (the hull/segjoin
contract; eps^2 and products must fit int64).

Blocking extends the epsilon-grid to a THIRD axis: block = (x div eps,
y div eps, t div tau). Any qualifying pair differs by at most 1 in
every block coordinate, so the probe branch replicates map-side to its
3x3x3 = 27 neighbor keys while the home branch stays put, and ONE
uniform equi shuffle on the composite key meets them. The x27 is the
price of the time axis — and the reason the composite key is RIGHT at
scale: a purely spatial grid would drag every historical visitor of a
dense cell into the same reducer, while the time bucket slices the hot
cell's history into tau-width pieces (the skew answer for "airport
cell, three years of pings"). Emission uniqueness is structural: a
pair meets only in b's home block (probe a < home b), each neighbor
key appears once in a's replica set, so no dedup shuffle — the
snap/rangejoin argument with one more axis.

Self-join, so the event table is pinned once (CLAUDE.md rule). The
DuckDB oracle is the honest O(n^2) self cross join with the same
conjunction and NO blocking — the independent plan gating the 27-key
neighborhood's completeness.

No reference counterpart (specvital/core has no spatiotemporal
subsystem); the blocking is the epsilon-grid / GeoSpark-style grid
join lifted to (x, y, t).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.operators import gridblock as gb
from core_spark.plans.materialize import pin


def contact_pairs(
    events: DataFrame,
    eps: int,
    tau: int,
    key: str = "event_id",
    x: str = "x",
    y: str = "y",
    t: str = "t",
) -> DataFrame:
    """(a, b) for every event pair with dist² <= eps² and |dt| <= tau,
    a < b, exactly once. Coordinates/ticks BIGINT; NULLs drop."""
    e = int(eps)
    w = int(tau)
    if e <= 0 or w <= 0:
        raise ValueError(f"contact_pairs: eps and tau must be > 0,"
                         f" got {eps}, {tau}")
    base = pin(
        events.selectExpr(
            f"{key} AS _k", f"CAST({x} AS BIGINT) AS _x",
            f"CAST({y} AS BIGINT) AS _y", f"CAST({t} AS BIGINT) AS _t",
        ).where("_k IS NOT NULL AND _x IS NOT NULL AND _y IS NOT NULL"
                " AND _t IS NOT NULL")
        .selectExpr(
            "_k", "_x", "_y", "_t",
            f"{gb.cell('_x', e)} AS _gx", f"{gb.cell('_y', e)} AS _gy",
            f"{gb.cell('_t', w)} AS _gt",
        )
    )
    probe = gb.neighbours(
        base, ["_k AS a", "_x AS _ax", "_y AS _ay", "_t AS _at"],
        {"_gx": "_gx", "_gy": "_gy", "_gt": "_gt"},
    )
    home = base.selectExpr(
        "_k AS b", "_x AS _bx2", "_y AS _by2", "_t AS _bt2",
        "_gx", "_gy", "_gt",
    )
    pred = (
        "a < b"
        f" AND (_ax - _bx2) * (_ax - _bx2)"
        f"   + (_ay - _by2) * (_ay - _by2) <= {e * e}"
        f" AND abs(_at - _bt2) <= {w}"
    )
    return (
        probe.join(home, ["_gx", "_gy", "_gt"])
        .filter(F.expr(pred))
        .select("a", "b")
    )


def sql_contact_pairs(
    events_sql: str,
    eps: int,
    tau: int,
    key: str = "event_id",
    x: str = "x",
    y: str = "y",
    t: str = "t",
) -> str:
    """DuckDB twin: honest O(n^2) self cross join, same conjunction,
    no blocking — the independent plan."""
    e = int(eps)
    w = int(tau)
    return f"""
WITH ev AS (
  SELECT {key} AS k, CAST({x} AS BIGINT) AS ex,
         CAST({y} AS BIGINT) AS ey, CAST({t} AS BIGINT) AS et
  FROM ({events_sql})
  WHERE {key} IS NOT NULL AND {x} IS NOT NULL
    AND {y} IS NOT NULL AND {t} IS NOT NULL
)
SELECT p.k AS a, q.k AS b
FROM ev p, ev q
WHERE p.k < q.k
  AND (p.ex - q.ex) * (p.ex - q.ex)
    + (p.ey - q.ey) * (p.ey - q.ey) <= {e * e}
  AND abs(p.et - q.et) <= {w}
"""
