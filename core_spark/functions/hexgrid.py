"""HX — an aperture-7 hierarchical hexagonal grid (H3-analog), from scratch.

The container ships no ``h3`` library, so the engine implements its own
hexagonal hierarchical index from public aperture-7 DGGS math (the same family
as Uber H3 / DGGRID ISEA7H). Cell ids are NOT bit-compatible with Uber H3 —
they cannot be without Uber's proprietary-numbering base-cell tables — but the
semantics match: hexagonal cells, resolutions 0..15 scaled by sqrt(7) per
step, k-ring neighborhoods, aperture-7 parent/child hierarchy (each parent has
exactly 7 children), and cell-boundary polygons.

Geometry: pointy-top hexagonal lattice in equirectangular (lon, lat) degree
space. Each finer resolution shrinks the circumradius by sqrt(7) and rotates
the lattice by atan(sqrt(3)/5) ≈ 19.1066° (the aperture-7 rotation), so that
the resolution-(n-1) lattice is exactly the parent lattice of resolution n —
this is what makes ``cell_to_parent`` a true aperture-7 up-aggregation.

Like H3 itself, direct assignment at res n-1 may differ from
parent(assignment at res n) for points inside a child hex that straddles the
parent boundary; rollups must therefore use ``cell_to_parent`` on the indexed
column, not re-assignment (same caveat as H3's cellToParent).

Cell id layout (64-bit signed, always positive):
    id = res * 2^59 + (q + 2^28) * 2^29 + (r + 2^28)
with (q, r) the integer axial coordinates at that resolution. Supports
|q|,|r| < 2^28, i.e. every resolution 0..15 over the whole globe.

THE key property of this module: cell assignment is emitted as plain SQL
arithmetic (floor / abs / case / IEEE-754 + * /) with all transcendentals
pre-folded into double literals. ``sql_cell`` is the one-expression form
the DuckDB oracle runs; ``with_cells`` emits the same arithmetic as Spark
projections (whole-stage codegen, JVM-side, no UDF) shaped so that every
generated method stays JIT-compilable. Both produce bit-identical results.
A mirrored numpy implementation backs unit tests and UDF-side consumers.

Reference analog: the detection cascade's "cheap predicate first" discipline
(pkg/parser/scanner.go:468-489) — tile assignment is the engine's cheapest,
hottest predicate and must stay JVM-side.
"""

from __future__ import annotations

import math

import numpy as np

# ---------------------------------------------------------------------------
# Grid constants
# ---------------------------------------------------------------------------

RES0_SIZE = 10.0          # circumradius (= edge length) of a res-0 hex, degrees
SQRT7 = math.sqrt(7.0)
APERTURE7_THETA = math.atan2(math.sqrt(3.0), 5.0)   # 19.1066...°, rotation/res
MAX_RES = 15

SQ3_3 = math.sqrt(3.0) / 3.0        # 0.5773502691896258
ONE_3 = 1.0 / 3.0
TWO_3 = 2.0 / 3.0
SQRT3 = math.sqrt(3.0)

_POW59 = 1 << 59
_POW29 = 1 << 29
_POW28 = 1 << 28

# Edge length (== circumradius) per resolution, degrees; and frame rotation.
SIZES = [RES0_SIZE / (SQRT7 ** n) for n in range(MAX_RES + 1)]
COS_N = [math.cos(n * APERTURE7_THETA) for n in range(MAX_RES + 1)]
SIN_N = [math.sin(n * APERTURE7_THETA) for n in range(MAX_RES + 1)]

# Approx meters per degree latitude (spherical earth, for size_m reporting).
M_PER_DEG = 111194.92664455873


def edge_length_m(res: int) -> float:
    """Approximate edge length in metres at the equator for ``res``."""
    return SIZES[res] * M_PER_DEG


# ---------------------------------------------------------------------------
# numpy kernel (reference implementation; mirrors the SQL op-for-op)
# ---------------------------------------------------------------------------

def _rnd(v: np.ndarray) -> np.ndarray:
    """floor(v + 0.5): the half-up rounding used identically in the SQL."""
    return np.floor(v + 0.5)


def _hex_round(qf: np.ndarray, rf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cube-coordinate rounding of fractional axial coords (vectorized)."""
    xf, zf = qf, rf
    yf = -qf - rf
    rx, ry, rz = _rnd(xf), _rnd(yf), _rnd(zf)
    dx, dy, dz = np.abs(rx - xf), np.abs(ry - yf), np.abs(rz - zf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & ~(dy > dz)
    q = np.where(fix_x, -ry - rz, rx)
    r = np.where(fix_z, -rx - ry, rz)
    return q, r


def normalize_lon(lon: np.ndarray) -> np.ndarray:
    """Wrap longitude into [-180, 180) — +180 maps to -180 (same meridian)."""
    return lon - 360.0 * np.floor((lon + 180.0) / 360.0)


def latlon_to_qr(lat, lon, res: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) arrays -> integer axial (q, r) at ``res``."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = normalize_lon(np.asarray(lon, dtype=np.float64))
    c, s, size = COS_N[res], SIN_N[res], SIZES[res]
    # rotate lattice frame by -res*theta: point coords in the rotated frame
    xr = c * lon + s * lat
    yr = -s * lon + c * lat
    qf = (SQ3_3 * xr - ONE_3 * yr) / size
    rf = (TWO_3 * yr) / size
    return _hex_round(qf, rf)


def qr_to_id(q, r, res: int) -> np.ndarray:
    q = np.asarray(q).astype(np.int64)
    r = np.asarray(r).astype(np.int64)
    return res * _POW59 + (q + _POW28) * _POW29 + (r + _POW28)


def latlon_to_cell(lat, lon, res: int) -> np.ndarray:
    """Vectorized point -> cell id (the numpy mirror of sql_cell).

    Invalid coordinates (NaN, |lat| > 90) yield -1; the SQL form yields NULL.
    Error-as-data: a bad geoparse row must never fail a 10^12-row stage
    (reference analog: ScanError collection, pkg/parser/scanner.go:543).
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    valid = (lat >= -90.0) & (lat <= 90.0) & np.isfinite(lon)
    q, r = latlon_to_qr(np.where(valid, lat, 0.0), np.where(valid, lon, 0.0), res)
    return np.where(valid, qr_to_id(q, r, res), np.int64(-1))


def cell_to_qr(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (res, q, r) arrays."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell // _POW59
    rem = cell - res * _POW59
    q = rem // _POW29 - _POW28
    r = rem % _POW29 - _POW28
    return res, q, r


def qr_to_center(q, r, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Integer axial -> (lat, lon) of the cell center."""
    q = np.asarray(q, dtype=np.float64)
    r = np.asarray(r, dtype=np.float64)
    c, s, size = COS_N[res], SIN_N[res], SIZES[res]
    x = SQRT3 * size * (q + r / 2.0)
    y = 1.5 * size * r
    lon = c * x - s * y
    lat = s * x + c * y
    return lat, lon


def cell_to_center(cell) -> tuple[np.ndarray, np.ndarray]:
    res, q, r = cell_to_qr(cell)
    res_scalar = int(np.asarray(res).flat[0])
    return qr_to_center(q, r, res_scalar)


def cell_to_parent(cell) -> np.ndarray:
    """Aperture-7 parent: exact 7-to-1 up-aggregation (vectorized).

    The res-(n-1) lattice basis expressed in res-n axial coordinates is
    v1=(3,-1), v2=(1,2) (norm² = 7, 60° apart); solving c = i*v1 + j*v2 gives
    fractional parent coords i=(2q-r)/7, j=(q+3r)/7, then hex-rounds to the
    nearest parent center.
    """
    res, q, r = cell_to_qr(cell)
    qf = (2.0 * q - r) / 7.0
    rf = (q + 3.0 * r) / 7.0
    pq, pr = _hex_round(qf, rf)
    return (res - 1) * _POW59 + (pq.astype(np.int64) + _POW28) * _POW29 + (
        pr.astype(np.int64) + _POW28
    )


def cell_to_children(cell: int) -> np.ndarray:
    """All res+1 cells whose aperture-7 parent is ``cell`` (exactly 7)."""
    res, q, r = cell_to_qr(np.asarray([cell]))
    res = int(res[0])
    # child coords of the parent center: inverse transform c = i*v1 + j*v2
    cq = 3 * int(q[0]) + int(r[0])
    cr = -int(q[0]) + 2 * int(r[0])
    cand_q, cand_r = [], []
    for dq in range(-2, 3):
        for dr in range(-2, 3):
            cand_q.append(cq + dq)
            cand_r.append(cr + dr)
    cand_q = np.asarray(cand_q, dtype=np.int64)
    cand_r = np.asarray(cand_r, dtype=np.int64)
    cand = qr_to_id(cand_q, cand_r, res + 1)
    mask = cell_to_parent(cand) == np.int64(cell)
    return cand[mask]


_RING_DIRS = [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]


def kring_offsets(k: int) -> list[tuple[int, int]]:
    """Axial offsets of the filled k-ring (1 + 3k(k+1) cells), deterministic order."""
    out = [(0, 0)]
    for d in range(1, k + 1):
        q, r = -d, d  # start at d * direction[4]
        for di in range(6):
            for _ in range(d):
                out.append((q, r))
                q += _RING_DIRS[di][0]
                r += _RING_DIRS[di][1]
    return out


def kring(cell: int, k: int) -> np.ndarray:
    """Cell ids of the filled k-ring around ``cell`` (includes ``cell``)."""
    res, q, r = cell_to_qr(np.asarray([cell]))
    offs = np.asarray(kring_offsets(k), dtype=np.int64)
    return qr_to_id(int(q[0]) + offs[:, 0], int(r[0]) + offs[:, 1], int(res[0]))


def cell_to_boundary(cell: int) -> list[tuple[float, float]]:
    """Six (lat, lon) vertices of the hex cell, counter-clockwise."""
    res, q, r = cell_to_qr(np.asarray([cell]))
    res = int(res[0])
    clat, clon = qr_to_center(q, r, res)
    c, s, size = COS_N[res], SIN_N[res], SIZES[res]
    verts = []
    for i in range(6):
        ang = math.radians(60.0 * i + 30.0)  # pointy-top
        vx, vy = size * math.cos(ang), size * math.sin(ang)
        # rotate vertex offset into the unrotated frame (same as center)
        lon = float(clon[0]) + (c * vx - s * vy)
        lat = float(clat[0]) + (s * vx + c * vy)
        verts.append((lat, lon))
    return verts


# ---------------------------------------------------------------------------
# SQL emission — the single source of truth shared by Spark and DuckDB
# ---------------------------------------------------------------------------

def _lit(x: float) -> str:
    """Parenthesized DOUBLE literal in EXPONENT form: bit-exact round-trip
    in both Spark SQL and DuckDB.

    Two rules are load-bearing: (a) parens keep a negative literal after
    ``-`` from emitting ``--`` (a SQL line comment); (b) the ``e``-notation
    is what forces BOTH engines to lex the literal directly as DOUBLE —
    a bare decimal like ``0.9089479456629677`` is lexed as DECIMAL and the
    decimal->double conversion can land one ulp off the nearest double
    (DuckDB does exactly that for this value), which made the generated SQL
    diverge from the numpy kernel at cell-boundary points (hypothesis
    found lat=0.5, lon=2.2e-16, res=6). ``%.17e`` round-trips every finite
    double on both engines (verified over random bit patterns)."""
    return f"(CAST({float(x):.17e} AS DOUBLE))"


def sql_cell(lat_sql: str, lon_sql: str, res: int) -> str:
    """SQL expression: (lat, lon) -> hx cell id (BIGINT) at ``res``.

    Pure +,-,*,/ on doubles plus FLOOR/ABS/CASE — IEEE-754-identical on any
    engine; all trig folded into literals. Run it through F.expr() on Spark
    (whole-stage codegen) and verbatim in the DuckDB oracle.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res out of range: {res}")
    # wrap lon into [-180, 180) so +180 == -180; NaN propagates
    lon_n = f"(({lon_sql}) - 360.0*FLOOR((({lon_sql}) + 180.0) / 360.0))"
    qf, rf = _sql_latlon_to_qr(lat_sql, lon_n, res)
    cell = _sql_hexround_to_id(qf, rf, f"CAST({res} AS BIGINT)")
    # error-as-data: NULL out NaN / out-of-range coords instead of failing the
    # cast. `x >= a AND x <= b` is false for NaN on both Spark and DuckDB
    # (both order NaN greater than every value).
    valid = (
        f"(({lat_sql}) >= (-90.0) AND ({lat_sql}) <= (90.0) "
        f"AND {lon_n} >= (-180.0) AND {lon_n} <= (180.0))"
    )
    return f"(CASE WHEN {valid} THEN {cell} ELSE NULL END)"


def _sql_latlon_to_qr(lat_sql: str, lon_n: str, res: int) -> tuple[str, str]:
    """Fractional axial (qf, rf) at ``res`` of a latitude and an
    already-wrapped longitude, with no validity check (the latlon_to_qr
    arithmetic before rounding)."""
    c, s, size = _lit(COS_N[res]), _lit(SIN_N[res]), _lit(SIZES[res])
    xr = f"({c}*{lon_n} + {s}*({lat_sql}))"
    yr = f"(-{s}*{lon_n} + {c}*({lat_sql}))"
    qf = f"(({_lit(SQ3_3)}*{xr} - {_lit(ONE_3)}*{yr}) / {size})"
    rf = f"(({_lit(TWO_3)}*{yr}) / {size})"
    return qf, rf


def _sql_hexround_to_id(qf: str, rf: str, res_sql: str) -> str:
    """Cube-round fractional axial SQL exprs and pack into a cell id at
    the BIGINT resolution ``res_sql``."""
    yf = f"(-{qf} - {rf})"
    rx = f"FLOOR({qf} + 0.5)"
    ry = f"FLOOR({yf} + 0.5)"
    rz = f"FLOOR({rf} + 0.5)"
    dx = f"ABS({rx} - {qf})"
    dy = f"ABS({ry} - {yf})"
    dz = f"ABS({rz} - {rf})"
    fix_x = f"({dx} > {dy} AND {dx} > {dz})"
    q_out = f"(CASE WHEN {fix_x} THEN -({ry}) - ({rz}) ELSE {rx} END)"
    r_out = (
        f"(CASE WHEN {fix_x} THEN {rz} WHEN {dy} > {dz} THEN {rz} "
        f"ELSE -({rx}) - ({ry}) END)"
    )
    return (
        f"({res_sql} * {_POW59} "
        f"+ (CAST({q_out} AS BIGINT) + {_POW28}) * CAST({_POW29} AS BIGINT) "
        f"+ (CAST({r_out} AS BIGINT) + {_POW28}))"
    )


def sql_cell_to_parent(cell_sql: str) -> str:
    """SQL expression: child cell id -> aperture-7 parent cell id."""
    # decode without integer-division operators (DIV vs // differ per engine):
    # exact for our ranges because doubles hold integers < 2^53 after the
    # res*2^59 component is removed via modulo-free arithmetic on BIGINTs.
    res = f"CAST(FLOOR(CAST(({cell_sql}) AS DOUBLE) / {_lit(float(_POW59))}) AS BIGINT)"
    rem = f"(({cell_sql}) - ({res}) * {_POW59})"
    qq = f"(CAST(FLOOR(CAST({rem} AS DOUBLE) / {_lit(float(_POW29))}) AS BIGINT))"
    q = f"({qq} - {_POW28})"
    r = f"(({rem} - {qq} * CAST({_POW29} AS BIGINT)) - {_POW28})"
    qf = f"((2.0*CAST({q} AS DOUBLE) - CAST({r} AS DOUBLE)) / 7.0)"
    rf = f"((CAST({q} AS DOUBLE) + 3.0*CAST({r} AS DOUBLE)) / 7.0)"
    return _sql_hexround_to_id(qf, rf, f"(({res}) - 1)")


# ---------------------------------------------------------------------------
# Spark projections
# ---------------------------------------------------------------------------

def with_cells(df, lat_sql: str, lon_sql: str, cells: dict[str, int]):
    """Append one hx cell-id column per ``{name: res}`` entry, computed from
    the (lat, lon) pair with the arithmetic of ``sql_cell`` (bit-identical
    ids, NULL for invalid input) in five projections:

    1. one longitude wrap, in DOUBLE arithmetic (``360.0D``: Spark lexes a
       bare ``360.0`` as DECIMAL);
    2. one validity flag, and inputs sanitized as in ``latlon_to_cell``
       (0.0 where invalid), so no NaN or infinity reaches a BIGINT cast,
       which ANSI mode would fail with ARITHMETIC_OVERFLOW;
    3. every resolution's fractional axial coordinates (qf, rf);
    4. every resolution's raw id, the cube rounding of its (qf, rf), one
       unconditional expression each;
    5. the mask ``CASE WHEN valid THEN COALESCE(raw, raw, 0L) END``.

    The shape keeps every method whole-stage codegen generates under the
    8,000 bytes of bytecode above which HotSpot never JIT-compiles a method
    (gated by ``tests/test_assign_tiles.py``). The raw-id text repeats qf
    and rf many times; as columns of their own (step 3, which Catalyst
    keeps apart because the repeats are not cheap) they are analysed once
    per resolution, not once per repeat, which is most of the driver's cost
    of building the plan. Subexpression elimination moves the remaining
    repeats into methods of their own, but only outside conditional
    branches. COALESCE(raw, raw, 0L) equals raw, and is there for Catalyst:
    the second reference stops CollapseProject from inlining the raw id into
    the CASE branch (SPARK-36718), and the ``0L`` makes it non-nullable, so a
    ``cell IS NOT NULL`` filter that a join pushes below these projections
    folds to the validity flag instead of carrying the whole expression.
    """
    from pyspark.sql import functions as F

    for res in cells.values():
        if not 0 <= res <= MAX_RES:
            raise ValueError(f"res out of range: {res}")
    if not cells:
        return df
    lonn = f"(({lon_sql}) - 360.0D*FLOOR((({lon_sql}) + 180.0D) / 360.0D))"
    valid = (
        f"(({lat_sql}) >= (-90.0) AND ({lat_sql}) <= (90.0) "
        f"AND _hx_lonn >= (-180.0) AND _hx_lonn <= (180.0))"
    )
    raw = {name: f"_hx_{name}" for name in cells}
    qr, ids = {}, {}
    for name, res in cells.items():
        r = raw[name]
        qf, rf = _sql_latlon_to_qr("_hx_lat", "_hx_lon", res)
        qr[f"{r}_qf"], qr[f"{r}_rf"] = F.expr(qf), F.expr(rf)
        ids[r] = F.expr(_sql_hexround_to_id(f"{r}_qf", f"{r}_rf", f"CAST({res} AS BIGINT)"))
    return (
        df.withColumns({"_hx_lonn": F.expr(lonn)})
        .withColumns({
            "_hx_valid": F.expr(valid),
            "_hx_lat": F.expr(f"CASE WHEN {valid} THEN ({lat_sql}) ELSE 0.0D END"),
            "_hx_lon": F.expr(f"CASE WHEN {valid} THEN _hx_lonn ELSE 0.0D END"),
        })
        .withColumns(qr)
        .withColumns(ids)
        .withColumns({name: F.expr(f"CASE WHEN _hx_valid THEN COALESCE({r}, {r}, 0L) END")
                      for name, r in raw.items()})
        .drop("_hx_lonn", "_hx_valid", "_hx_lat", "_hx_lon", *qr, *raw.values())
    )


def _hexround_steps(p: str, qf: str, rf: str) -> list[tuple[str, str]]:
    """Cube-rounding as intermediate steps -> columns {p}qo, {p}ro."""
    return [
        (f"{p}yf", f"(-{qf} - {rf})"),
        (f"{p}rx", f"FLOOR({qf} + 0.5)"),
        (f"{p}ry", f"FLOOR({p}yf + 0.5)"),
        (f"{p}rz", f"FLOOR({rf} + 0.5)"),
        (f"{p}dx", f"ABS({p}rx - {qf})"),
        (f"{p}dy", f"ABS({p}ry - {p}yf)"),
        (f"{p}dz", f"ABS({p}rz - {rf})"),
        (f"{p}qo", f"(CASE WHEN {p}dx > {p}dy AND {p}dx > {p}dz "
                   f"THEN -({p}ry) - ({p}rz) ELSE {p}rx END)"),
        (f"{p}ro", f"(CASE WHEN {p}dx > {p}dy AND {p}dx > {p}dz THEN {p}rz "
                   f"WHEN {p}dy > {p}dz THEN {p}rz ELSE -({p}rx) - ({p}ry) END)"),
    ]


def parent_steps(cell_col_name: str, out: str) -> list[tuple[str, str]]:
    """Stepwise aperture-7 parent (see apply_steps for why stepwise)."""
    p = f"_{out}_"
    steps = [
        (f"{p}res", f"CAST(FLOOR(CAST(({cell_col_name}) AS DOUBLE) / {_lit(float(_POW59))}) AS BIGINT)"),
        (f"{p}rem", f"(({cell_col_name}) - {p}res * {_POW59})"),
        (f"{p}qq", f"CAST(FLOOR(CAST({p}rem AS DOUBLE) / {_lit(float(_POW29))}) AS BIGINT)"),
        (f"{p}q", f"({p}qq - {_POW28})"),
        (f"{p}r", f"(({p}rem - {p}qq * CAST({_POW29} AS BIGINT)) - {_POW28})"),
        (f"{p}qf", f"((2.0*CAST({p}q AS DOUBLE) - CAST({p}r AS DOUBLE)) / 7.0)"),
        (f"{p}rf", f"((CAST({p}q AS DOUBLE) + 3.0*CAST({p}r AS DOUBLE)) / 7.0)"),
    ]
    steps += _hexround_steps(p, f"{p}qf", f"{p}rf")
    steps.append((
        out,
        f"(({p}res - 1) * {_POW59} "
        f"+ (CAST({p}qo AS BIGINT) + {_POW28}) * CAST({_POW29} AS BIGINT) "
        f"+ (CAST({p}ro AS BIGINT) + {_POW28}))",
    ))
    return steps


def apply_steps(df, steps: list[tuple[str, str]]):
    """Apply (name, sql) steps as sequential projections, then drop the
    intermediates (names starting with '_').

    Why stepwise (measured): a monolithic generated expression textually
    duplicates every subexpression at each nesting level, and EXPLODES
    when a downstream expression (e.g. cell_to_parent) references its
    column many times. Intermediate columns keep the plan linear: Spark
    >= 3.3 refuses to collapse projections that would duplicate non-cheap
    aliases (SPARK-36718), so each fragment appears in the tree once. The
    cost: whole-stage codegen inlines every step into one ``processNext``,
    which stops being JIT-compiled past 8,000 bytes of bytecode; long
    chains of small steps over one row should take ``with_cells``'s shape
    instead."""
    from pyspark.sql import functions as F

    for name, sql in steps:
        df = df.withColumn(name, F.expr(sql))
    return df.drop(*[n for n, _ in steps if n.startswith("_")])
