"""Hilbert-curve layout keys: the locality upgrade over Z-order.

zorder.py's Morton key is the cheap interleave; its weakness is the
curve's JUMPS — consecutive Morton indices can sit at opposite ends of
a quadrant boundary (the key goes ...011111 -> 100000 and the point
teleports), so a tight lat/lon range can straddle a wide key range and
drag extra files into the scan. The Hilbert curve removes exactly that
defect: CONSECUTIVE INDICES ARE ALWAYS GRID NEIGHBORS (unit Manhattan
step, the curve's defining property, asserted by test), so every file's
key range maps to a compact spatial blob and min/max pruning stays
tight in both directions. This is why real lakehouse engines offer
Hilbert clustering as the step past ZORDER (e.g. Delta's liquid
clustering); here it is the same ``repartitionByRange + sort`` write
op with a better key.

The encoding is the classic per-level rotate/flip walk (the standard
xy2d formulation): for s = n/2 .. 1, take the quadrant bits (rx, ry),
add s^2 * gray(rx, ry) to the index, and transform the frame — if
ry = 0, optionally point-reflect (rx = 1: p <- n-1-p) then swap x/y.
State mutates per level, so the emission is STEPWISE COLUMNS carrying
(x_i, y_i) through ``ORDER`` levels (the hexgrid.apply_steps rule —
inlining would let Catalyst duplicate the whole cascade into every
downstream reference), with two portability substitutions that keep
the text byte-identical on Spark and DuckDB:

- ``gray = 3*rx + ry - 2*rx*ry`` replaces ``(3*rx) XOR ry`` (the XOR
  token differs between engines; on {0,1}^2 the polynomial is equal);
- shifts are multiplies, masks are ``&`` on BIGINT, quantized inputs
  are non-negative (zorder._quant clamps), so ``&`` semantics agree.

16 levels x 4 stepwise columns compile into one codegen'd projection —
no join, no shuffle, no Python on the data path (hilbert_py exists for
tests only). The key is deterministic and engine-identical, so the
DuckDB oracle gates the compiled expression itself, the
geohash/domain_extract pattern.

No reference counterpart (specvital/core has no storage-layout
subsystem); planar-lattice caveat as zorder/hexgrid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from core_spark.operators.zorder import _quant

ORDER = 16          # levels; n = 2^ORDER per axis (matches zorder BITS)
N = 1 << ORDER


def hilbert_steps(
    lat_col: str = "lat", lon_col: str = "lon", dialect: str = "spark"
) -> list[tuple[str, str]]:
    """Stepwise (name, expr) columns ending in ``hkey``. Identical text
    for both engines (``dialect`` accepted for emitter symmetry)."""
    assert dialect in ("spark", "duck", "duckdb")
    steps: list[tuple[str, str]] = [
        ("_hx0", _quant(lon_col, -180.0, 360.0)),
        ("_hy0", _quant(lat_col, -90.0, 180.0)),
    ]
    terms: list[str] = []
    for i in range(1, ORDER + 1):
        s = 1 << (ORDER - i)
        px, py = f"_hx{i - 1}", f"_hy{i - 1}"
        rx, ry = f"_hrx{i}", f"_hry{i}"
        # CAST(...) keeps every product BIGINT: bare 0/1 literals are
        # INT32 and s*s reaches 2^30, which overflows INT under Spark's
        # ANSI mode; CAST is the one widening both engines spell alike
        steps.append((
            rx,
            f"CASE WHEN ({px} & {s}) <> 0 THEN CAST(1 AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END",
        ))
        steps.append((
            ry,
            f"CASE WHEN ({py} & {s}) <> 0 THEN CAST(1 AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END",
        ))
        terms.append(
            f"{s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})"
        )
        if i < ORDER:  # the last level's frame transform is unused
            steps.append((
                f"_hx{i}",
                f"CASE WHEN {ry} = 1 THEN {px}"
                f" WHEN {rx} = 1 THEN {N - 1} - {py} ELSE {py} END",
            ))
            steps.append((
                f"_hy{i}",
                f"CASE WHEN {ry} = 1 THEN {py}"
                f" WHEN {rx} = 1 THEN {N - 1} - {px} ELSE {px} END",
            ))
    steps.append(("hkey", "CAST(" + " + ".join(terms) + " AS BIGINT)"))
    return steps


def with_hilbert_key(
    df: DataFrame, lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """Append ``hkey`` (BIGINT Hilbert index) via stepwise projections."""
    from core_spark.functions.hexgrid import apply_steps

    return apply_steps(df, hilbert_steps(lat_col, lon_col))


def hilbert_py(x: int, y: int, order: int = ORDER) -> int:
    """Reference model (tests only): the textbook xy2d walk."""
    n = 1 << order
    if not (0 <= x < n and 0 <= y < n):
        raise ValueError(f"coords out of range for order {order}: {x},{y}")
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_d2xy_py(d: int, order: int = ORDER) -> tuple[int, int]:
    """Inverse walk (tests only) — used to assert the adjacency
    property without enumerating the full lattice."""
    n = 1 << order
    x = y = 0
    t = d
    s = 1
    while s < n:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s *= 2
    return x, y
