"""Spatial blocking: the grid-cell, neighbour-probe and PBSM-cover SQL.

Every grid-blocked operator prunes candidate pairs the same way, so the
SQL for it lives here once:

- ``cell(expr, size)`` buckets a coordinate: ``floor(v / size)`` as a
  BIGINT. ``FLOOR``, not truncation, so negative coordinates grid
  consistently (at size 1, -0.5 lands in cell -1, not 0).
- ``neighbours(df, keep, cells)`` is the epsilon-grid probe. With cell
  size = the join radius, any qualifying pair differs by at most 1 in
  every cell coordinate, so one side replicates map-side to its 3^d
  neighbour keys, the other stays in its home cell, and ONE uniform equi
  shuffle meets them. Each neighbour key appears once in a row's replica
  set, so every pair meets exactly once: no dedup shuffle. An explicit
  offset list gives other lattices (rook, queen).
- ``cover(lo, hi, size)`` is the PBSM replication (Partition-Based
  Spatial Merge join, Patel & DeWitt 1996) for objects with extent:

  1. grid the plane at cell size ``g``; each box replicates to every
     cell its extent covers (a within-row ``sequence`` explode per axis,
     ceil(w/g)·ceil(h/g) rows, bounded by box size over g: the knob);
  2. equi-join on the cell key: every intersecting pair shares at least
     the cell holding the lower-left corner of their intersection;
  3. **reference-point dedup, not DISTINCT**: a pair found in cell c is
     emitted only when c is that canonical corner cell
     (``cell(greatest(xmin_a, xmin_b))``, same for y). A pair sharing 40
     cells is still emitted exactly once, with no global dedup shuffle.

  A one-sided join (snap, areal) replicates only the side with extent;
  the point side stays in its home cell, so each pair meets in exactly
  one cell and needs no reference point.

A dense-city mega-cell is one hot key on every path: AQE skew-join
splits it, and a smaller cell trades replication for balance.

These emit Spark SQL for the blocked plans only. The DuckDB twins stay
brute-force cross joins with no grid, so the blocking's completeness is
exactly what the cross-engine gate checks.
"""

from __future__ import annotations

from itertools import product

from pyspark.sql import DataFrame


def cell(expr: str, size: float) -> str:
    """SQL for the grid cell of ``expr`` at cell size ``size``."""
    return f"CAST(FLOOR(({expr}) / {float(size)!r}) AS BIGINT)"


def cover(lo: str, hi: str, size: float) -> str:
    """SQL exploding every cell of one axis from ``lo`` to ``hi``
    (both inclusive; pass ``hi - 1`` for a closed-open extent)."""
    return f"explode(sequence({cell(lo, size)}, {cell(hi, size)}))"


def neighbours(
    df: DataFrame,
    keep: list[str],
    cells: dict[str, str],
    offsets=None,
) -> DataFrame:
    """Replicate each row of ``df`` to its neighbouring cells.

    ``keep``: SQL expressions carried unchanged. ``cells``: output cell
    column -> SQL of the row's home cell on that axis. ``offsets``: one
    tuple per replica, one entry per axis; default all 3^d offsets in
    {-1, 0, 1}^d. Output: the ``keep`` columns, then each cell column
    shifted by the replica's offset.
    """
    if offsets is None:
        offsets = product((-1, 0, 1), repeat=len(cells))
    structs = ", ".join(
        "struct(" + ", ".join(f"{d}L AS d{i}" for i, d in enumerate(o)) + ")"
        for o in offsets
    )
    home = df.selectExpr(
        *keep,
        *[f"{e} AS {c}" for c, e in cells.items()],
        f"explode(array({structs})) AS _o",
    )
    kept = [c for c in home.columns if c != "_o" and c not in cells]
    return home.selectExpr(
        *kept, *[f"{c} + _o.d{i} AS {c}" for i, c in enumerate(cells)]
    )
