"""Z-order (Morton) spatial layout keys + range-clustered file layout.

The write-side half of the spatial engine: tiles.py answers "which cell
is this point in?", this module answers "how should the TABLE BE LAID
OUT ON DISK so spatial scans skip files?" — the Iceberg/Delta
``OPTIMIZE ZORDER BY (lat, lon)`` analog, built from primitives. A
Morton key interleaves the bits of the quantized (lon, lat) pair, so
sorting by it places spatially-near rows in the same file and every
file's (min,max) lat/lon footprint — exactly what a format's column
stats capture — stays tight. A lat/lon range predicate then prunes
files by stats instead of scanning the table: the difference between a
full 100 TB scan and reading a few tiles' worth of files.

Mechanics: each 16-bit quantized coordinate is spread to even bit
positions with the classic 4-step mask cascade, emitted as STEPWISE
COLUMNS (the hexgrid.apply_steps rule — Catalyst collapses projections
and would otherwise duplicate each step into every downstream use).
Shifts are written as multiply/divide by powers of two — exact on
BIGINT and the ONE syntax both engines share — with ``&``/``|`` for the
masks, so the emission is bit-identical in Spark and DuckDB (only the
integer-division token differs). Quantization is FLOOR-before-cast on
plain +,*,/ double arithmetic (the portable subset; NULL/out-of-range
coords are clamped after a NULL guard).

The layout itself is the writer's ``repartitionByRange`` on the key
(Spark samples range bounds, so output files hold contiguous, disjoint
key ranges) + ``sortWithinPartitions`` (row groups inside each file
stay clustered too). At 10^12 rows this is one range-exchange — the
same cost as any global sort-write, paid once at ingest and repaid on
every pruned scan. Skew: Morton keys of a skewed corpus ARE skewed
(mega-cities); range partitioning absorbs it by splitting hot key
ranges across files — the sampler sees the density, unlike fixed-width
cell bucketing.

No reference counterpart (specvital/core has no storage-layout
subsystem); the lattice caveat matches hexgrid: planar over
equirectangular lon/lat, seam-adjacent ranges are not wrapped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: spread-cascade masks for 16 -> 32 bit interleave (Morton classic)
_SPREAD = (
    (256, 0x00FF00FF),  # x | x<<8  & mask
    (16, 0x0F0F0F0F),
    (4, 0x33333333),
    (2, 0x55555555),
)

BITS = 16  # per-axis quantization (32-bit keys; doc in zorder_steps)


def _quant(col: str, lo: float, span: float) -> str:
    """Portable 0..65535 quantization.

    Clamps on the DOUBLE side before the BIGINT cast (Spark 4 ANSI
    throws on overflowing casts) and NULL/NaN-guards with ``isnan``
    (``col = col`` is NOT a NaN probe — both engines define NaN = NaN
    as true in comparisons). FLOOR-before-cast per the portability
    rules; +,-,*,/ only, so the double is bit-identical cross-engine.
    """
    raw = f"FLOOR((({col}) - ({lo})) / {span} * 65536.0)"
    guarded = (
        f"CASE WHEN {col} IS NULL OR isnan({col}) THEN 0.0 "
        f"WHEN {raw} < 0.0 THEN 0.0 "
        f"WHEN {raw} > 65535.0 THEN 65535.0 ELSE {raw} END"
    )
    return f"CAST({guarded} AS BIGINT)"


def zorder_steps(
    lat_col: str = "lat", lon_col: str = "lon"
) -> list[tuple[str, str]]:
    """Stepwise (name, expr) columns ending in ``zkey``.

    Same emission for both engines: only the integer-division token would
    differ and none is needed (shifts here are all left/multiply).
    """
    steps: list[tuple[str, str]] = [
        ("_zx0", _quant(lon_col, -180.0, 360.0)),
        ("_zy0", _quant(lat_col, -90.0, 180.0)),
    ]
    for axis in ("x", "y"):
        prev = f"_z{axis}0"
        for i, (mul, mask) in enumerate(_SPREAD, start=1):
            name = f"_z{axis}{i}"
            steps.append((name, f"(({prev} | ({prev} * {mul})) & {mask})"))
            prev = name
    steps.append(("zkey", f"(_zx{len(_SPREAD)} | (_zy{len(_SPREAD)} * 2))"))
    return steps


def with_zorder_key(
    df: DataFrame, lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """Append ``zkey`` (BIGINT Morton key) via stepwise projections."""
    from core_spark.functions.hexgrid import apply_steps

    # all intermediates are '_z*'-prefixed, so apply_steps drops them
    return apply_steps(df, zorder_steps(lat_col, lon_col))


def sql_zorder_bucket_stats(
    inner_sql: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    bucket_shift_pow2: int = 1 << 26,
) -> str:
    """DuckDB twin of the per-bucket footprint stats: the data-skipping
    evidence query.

    Buckets are zkey-prefix ranges (the file boundaries a ZORDER write
    would produce); min/max lat/lon per bucket are exactly the column
    stats a scan would prune on. The key steps are ``with_zorder_key``'s
    text.
    """
    steps = zorder_steps(lat_col, lon_col)
    cols = ", ".join(f"{expr} AS {name}" for name, expr in steps)
    return f"""
        WITH keyed AS (
          SELECT {lat_col}, {lon_col}, {cols}
          FROM ({inner_sql})
        )
        SELECT (zkey // {bucket_shift_pow2}) AS bucket,
               COUNT(*) AS n_docs,
               MIN({lat_col}) AS min_lat, MAX({lat_col}) AS max_lat,
               MIN({lon_col}) AS min_lon, MAX({lon_col}) AS max_lon
        FROM keyed
        GROUP BY 1
    """
