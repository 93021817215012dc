"""Geohash cell ids (public base32 geocode, Niemeyer 2008): the third
lattice family, emitted as portable stepwise SQL.

hexgrid is the fast planar lattice, S2 the area-uniform spherical one;
geohash is the INTERCHANGE format — the base32 string id most web
geodata APIs, databases, and datasets key on. Two properties make it
worth having natively: the PREFIX property (a cell's first k digits
ARE its precision-k parent, so spatial rollups are one ``substr`` — no
parent arithmetic at all), and plain string sorting co-locates nearby
cells (geohash order is Morton order, the same locality zorder.py
exploits numerically).

Construction (the public spec, bit-exact): quantize lon to
ceil(5p/2) bits and lat to floor(5p/2) bits by interval halving —
equivalently ``floor((x - lo) / span * 2^bits)`` clamped — interleave
MSB-first starting with longitude, then emit 5-bit chunks through the
``0123456789bcdefghjkmnpqrstuvwxyz`` alphabet. The interleave uses the
classic 32→64 spread cascade (masks as decimal literals; shifts as
multiplies — the syntax both engines share), emitted as STEPWISE
columns per the hexgrid.apply_steps rule. Which axis occupies even bit
positions depends on the parity of 5p (odd precision gives lon the
extra bit) — handled per precision, pinned against the
interval-halving reference model and the published 'ezs42' /
'u4pruydqqvj' test vectors in tests.

NULL/NaN/out-of-range coordinates yield a NULL geohash (an ID must not
silently clamp to a real cell — unlike zorder's layout keys, where
clamping is the right call because a sort key only needs an order).

Lattice caveat shared with hexgrid/zorder: the quantization is planar
over equirectangular lon/lat; geohash cells are defined that way by
spec, so there is no seam approximation here — but neighbor-distance
reasoning across ±180 still needs care (CLAUDE.md geometry caveat).

No reference counterpart (specvital/core has no spatial subsystem);
the encoding is the public geohash.org specification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"

#: 32 -> 64 bit spread cascade: bit i moves to bit 2i
_SPREAD64 = (
    (1 << 16, 0x0000FFFF0000FFFF),
    (1 << 8, 0x00FF00FF00FF00FF),
    (1 << 4, 0x0F0F0F0F0F0F0F0F),
    (1 << 2, 0x3333333333333333),
    (1 << 1, 0x5555555555555555),
)


def _quant(col: str, lo: float, span: float, bits: int) -> str:
    """floor((col-lo)/span * 2^bits) clamped to [0, 2^bits-1] — BIGINT.

    Equivalent to the spec's interval halving (floor truncation keeps
    exactly the MSB-first halving bits; the top clamp covers col == hi).
    """
    top = (1 << bits) - 1
    raw = f"FLOOR((({col}) - ({lo})) / {span} * {float(1 << bits)!r})"
    # NULL/NaN short-circuit BEFORE the BIGINT cast (Spark 4 ANSI throws
    # on CAST(NaN AS BIGINT); the final output-column guard alone only
    # survives via projection collapse + lazy CASE — zorder._quant rule).
    # The placeholder 0 is never visible: the out_col guard NULLs the row.
    clamped = (
        f"CASE WHEN {col} IS NULL OR isnan({col}) THEN 0.0 "
        f"WHEN {raw} < 0.0 THEN 0.0 "
        f"WHEN {raw} > {float(top)!r} THEN {float(top)!r} ELSE {raw} END"
    )
    return f"CAST({clamped} AS BIGINT)"


def geohash_steps(
    lat_col: str = "lat",
    lon_col: str = "lon",
    precision: int = 7,
    dialect: str = "spark",
    out_col: str = "geohash",
) -> list[tuple[str, str]]:
    """Stepwise (name, expr) columns ending in ``out_col``.

    Identical emission on both engines except the integer-division
    token. Precision 1..12 (12 is the 60-bit ceiling of the spec).
    """
    assert dialect in ("spark", "duck", "duckdb")
    if not (1 <= precision <= 12):
        raise ValueError(f"geohash precision must be in 1..12, got {precision}")
    div = "DIV" if dialect == "spark" else "//"
    n = 5 * precision
    ln_bits = (n + 1) // 2  # lon gets the extra bit at odd precision
    lt_bits = n // 2
    steps: list[tuple[str, str]] = [
        ("_gl0", _quant(lon_col, -180.0, 360.0, ln_bits)),
        ("_ga0", _quant(lat_col, -90.0, 180.0, lt_bits)),
    ]
    for axis in ("l", "a"):
        prev = f"_g{axis}0"
        for i, (mul, mask) in enumerate(_SPREAD64, start=1):
            name = f"_g{axis}{i}"
            steps.append((name, f"(({prev} | ({prev} * {mul})) & {mask})"))
            prev = name
    last = len(_SPREAD64)
    # LSB parity: odd n ends on a lon bit (lon at even positions), even n
    # on a lat bit (lat at even positions)
    if n % 2 == 1:
        steps.append(("_gv", f"(_gl{last} | (_ga{last} * 2))"))
    else:
        steps.append(("_gv", f"(_ga{last} | (_gl{last} * 2))"))
    chars = []
    for j in range(precision):
        shift = 1 << (5 * (precision - 1 - j))
        chars.append(
            f"substr('{ALPHABET}', "
            f"CAST((_gv {div} {shift}) % 32 AS INT) + 1, 1)"
        )
    guard = (
        f"{lat_col} IS NULL OR {lon_col} IS NULL OR isnan({lat_col}) OR "
        f"isnan({lon_col}) OR {lat_col} < -90.0 OR {lat_col} > 90.0 OR "
        f"{lon_col} < -180.0 OR {lon_col} > 180.0"
    )
    steps.append((
        out_col,
        f"CASE WHEN {guard} THEN NULL ELSE concat({', '.join(chars)}) END",
    ))
    return steps


def with_geohash(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    precision: int = 7,
    out_col: str = "geohash",
) -> DataFrame:
    """Append ``out_col`` (base32 string cell id) via stepwise projections."""
    from core_spark.functions.hexgrid import apply_steps

    return apply_steps(
        df, geohash_steps(lat_col, lon_col, precision, "spark", out_col)
    )


def geohash_py(lat: float, lon: float, precision: int) -> str:
    """Reference model: the spec's interval-halving loop — deliberately a
    DIFFERENT algorithm from the bit-spread emission (tests pin both to
    the published vectors and to each other)."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits, out, is_lon = [], [], True
    while len(bits) < 5 * precision:
        if is_lon:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        is_lon = not is_lon
    for j in range(precision):
        k = 0
        for b in bits[5 * j: 5 * j + 5]:
            k = k * 2 + b
        out.append(ALPHABET[k])
    return "".join(out)
