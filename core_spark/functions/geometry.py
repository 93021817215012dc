"""Pure geometry kernels: ray-cast point-in-polygon, packed STRtree, haversine.

No geospatial libraries in the container (no shapely/GEOS), so the kernels are
implemented from public computational-geometry definitions, numpy-vectorized,
and Spark-free (unit-testable on plain arrays — the reference keeps its parse
kernels embedder-callable the same way, pkg/parser/framework/definition.go:111).

PIP edge rule (fixed, golden-tested — SURVEY.md §7 hard part (b)): the
half-open crossing rule. For point P and edge (A, B), the edge crosses P's
upward ray iff ``(Ay > Py) != (By > Py)`` and the intersection x lies strictly
right of Px:

    (Ay > Py) != (By > Py)  AND  Px < Ax + (Py - Ay) * (Bx - Ax) / (By - Ay)

Odd crossing count => inside. Points exactly on a horizontal edge follow the
rule's parity (top-exclusive / bottom-inclusive), so shared polygon borders
assign every point to exactly one polygon — the determinism the golden
fixtures rely on. The SAME inequality chain is emitted as ANSI SQL by
``sql_ray_cast_crossing`` for the DuckDB oracle.

STRtree: classic Sort-Tile-Recursive bulk-packing (Leutenegger et al. 1997) —
leaves hold polygon envelopes tiled by x then y; a batch of points descends
the tree one level at a time, all points together, keeping the (point, node)
pairs whose node envelope holds the point. Built once per executor process over
the polygon table shipped in the task closure (lazy global, the analog of the
reference's compiled-query cache, pkg/parser/tspool/query.go:33).

RingBands: the exact test for the tree's candidates. Each ring's edges are
bucketed into y-bands (Haines' "bins" crossings test), so a (point, ring)
query tests only the few edges of the band that holds the point's y, through
the same ``ray_crossings`` formula ``points_in_ring`` uses.
"""

from __future__ import annotations

import math

import numpy as np

EARTH_RADIUS_M = 6_371_008.8  # IUGG mean radius


# ---------------------------------------------------------------------------
# Haversine distance (vectorized)
# ---------------------------------------------------------------------------

def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Great-circle distance in metres, float64 arrays."""
    la1, lo1, la2, lo2 = (np.radians(np.asarray(a, dtype=np.float64))
                          for a in (lat1, lon1, lat2, lon2))
    dlat = la2 - la1
    dlon = lo2 - lo1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def sql_haversine_m(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """The same formula as ANSI SQL (RADIANS/SIN/COS/ASIN/SQRT exist with
    identical IEEE semantics in Spark SQL and DuckDB). LEAST() clamps the
    rounding overshoot exactly like np.clip."""
    la1, lo1 = f"RADIANS({lat1})", f"RADIANS({lon1})"
    la2, lo2 = f"RADIANS({lat2})", f"RADIANS({lon2})"
    h = (
        f"(POWER(SIN(({la2} - {la1})/2.0), 2) + "
        f"COS({la1})*COS({la2})*POWER(SIN(({lo2} - {lo1})/2.0), 2))"
    )
    return f"(2.0 * {EARTH_RADIUS_M!r} * ASIN(SQRT(LEAST({h}, 1.0))))"


# ---------------------------------------------------------------------------
# Ray-cast point-in-polygon
# ---------------------------------------------------------------------------

def ray_crossings(px, py, x0, y0, x1, y1) -> np.ndarray:
    """The crossing rule, elementwise (numpy broadcasting): does edge
    (x0, y0)-(x1, y1) cross the ray from (px, py) towards +x? Every ray cast
    in this module goes through here, so there is one formula."""
    cross = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    return cross & (px < xint)


def point_in_ring(px: float, py: float, ring: np.ndarray) -> bool:
    """Scalar reference implementation. ``ring``: (n, 2) array of (x, y)
    vertices, closing edge implied (last->first)."""
    x = ring[:, 0]
    y = ring[:, 1]
    hits = ray_crossings(px, py, x, y, np.roll(x, -1), np.roll(y, -1))
    return bool(np.count_nonzero(hits) & 1)


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized: many points vs one ring -> bool array.

    O(n_points * n_vertices) numpy ops: a reference and a fixture helper.
    The PIP join tests only the edges of each point's y-band (``RingBands``).
    """
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x = ring[None, :, 0]
    y = ring[None, :, 1]
    xj = np.roll(ring[:, 0], -1)[None, :]
    yj = np.roll(ring[:, 1], -1)[None, :]
    hits = ray_crossings(px, py, x, y, xj, yj)
    return (hits.sum(axis=1) & 1).astype(bool)


def sql_ray_cast_crossing(px: str, py: str, ax: str, ay: str, bx: str, by: str) -> str:
    """SQL predicate: does edge (A,B) cross the upward ray from P?

    Identical inequality chain to the numpy kernel; division is guarded by the
    crossing test (Ay>Py) != (By>Py), which implies By != Ay. The oracle sums
    these per (point, polygon) and checks odd parity.
    """
    return (
        f"((({ay}) > ({py})) <> (({by}) > ({py})) AND "
        f"({px}) < ({ax}) + (({py}) - ({ay})) * (({bx}) - ({ax})) / (({by}) - ({ay})))"
    )


# ---------------------------------------------------------------------------
# Envelopes
# ---------------------------------------------------------------------------

def ring_envelope(ring: np.ndarray) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) of a vertex ring."""
    return (
        float(ring[:, 0].min()),
        float(ring[:, 1].min()),
        float(ring[:, 0].max()),
        float(ring[:, 1].max()),
    )


# ---------------------------------------------------------------------------
# STRtree (Sort-Tile-Recursive packed R-tree) — bulk-load only, batch point query
# ---------------------------------------------------------------------------

class STRtree:
    """Packed R-tree over rectangles, bulk-loaded with the STR heuristic.

    Flat-array layout (no per-node Python objects): ``self.levels`` holds one
    (4, m) array per level, root first, whose rows are the node boxes' minx,
    miny, maxx and maxy (one contiguous gather per bound). Node ``j`` of a
    level owns children ``j * NODE_CAP .. j * NODE_CAP + NODE_CAP - 1`` of
    the level below; the last node's span is ragged.

    Queries are batch, level-wise descents: a whole array of points walks the
    tree together, one numpy pass per level over the live (point, node)
    pairs, so tree depth (~log16 n), not point count, sets the number of
    Python steps. The (point, item) pairs it returns are envelope candidates
    only; ``pip.match_points`` refines them all in one ``RingBands`` pass.
    For admin-boundary cardinality (10^2..10^5 polygons) build time is
    negligible. The tree itself never travels: each executor builds it from
    the packed polygon payload (``pip.polygon_payload``, 16 bytes a vertex:
    814 polygons of 192 vertices ship as about 2.5 MB).
    """

    NODE_CAP = 16

    def __init__(self, boxes: np.ndarray):
        """boxes: (n, 4) array of (minx, miny, maxx, maxy)."""
        boxes = np.asarray(boxes, dtype=np.float64)
        n = len(boxes)
        if n == 0:
            self.levels: list[np.ndarray] = []
            self.item_order = np.empty(0, dtype=np.int64)
            return

        # --- STR packing of the leaf level ---
        cap = self.NODE_CAP
        cx = (boxes[:, 0] + boxes[:, 2]) * 0.5
        cy = (boxes[:, 1] + boxes[:, 3]) * 0.5
        n_nodes = math.ceil(n / cap)
        n_slices = math.ceil(math.sqrt(n_nodes))
        per_slice = n_slices * cap
        # sort by center x, tile into vertical slices, sort each slice by y
        order = np.argsort(cx, kind="stable")
        for s in range(0, n, per_slice):
            sl = order[s : s + per_slice]
            sl_sorted = sl[np.argsort(cy[sl], kind="stable")]
            order[s : s + per_slice] = sl_sorted
        self.item_order = order.astype(np.int64)

        # --- build levels bottom-up: a parent box spans its child chunk ---
        level = np.ascontiguousarray(boxes[order].T)
        self.levels = [level]
        while level.shape[1] > 1:
            starts = np.arange(0, level.shape[1], cap)
            # fmin/fmax skip NaN: one NaN leaf box must not blank its ancestors
            level = np.vstack([np.fmin.reduceat(level[:2], starts, axis=1),
                               np.fmax.reduceat(level[2:], starts, axis=1)])
            self.levels.append(level)
        self.levels.reverse()  # levels[0] = root

    def query_points(self, xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batch query -> (point_idx, item_idx) pairs whose closed envelope
        contains the point, ordered by point.

        Level-synchronous descent: the state is two int arrays, ``pi`` (point)
        and ``ni`` (node at the current level). Each level expands every pair
        into its NODE_CAP child slots, drops slots past the level's end, and
        keeps the pairs whose point lies in the child's box.
        """
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        pi = np.arange(len(xs) if self.levels else 0, dtype=np.int64)
        ni = np.zeros(len(pi), dtype=np.int64)
        cap = self.NODE_CAP
        slots = np.arange(cap, dtype=np.int64)
        for depth, (x0, y0, x1, y1) in enumerate(self.levels):
            if depth:
                pi = np.repeat(pi, cap)
                ni = (ni[:, None] * cap + slots).ravel()
                real = ni < len(x0)
                pi, ni = pi[real], ni[real]
            x, y = xs[pi], ys[pi]
            hit = (x0[ni] <= x) & (x <= x1[ni]) & (y0[ni] <= y) & (y <= y1[ni])
            pi, ni = pi[hit], ni[hit]
        return pi, self.item_order[ni]


# ---------------------------------------------------------------------------
# Y-band edge index — the exact ray-cast over many rings at once
# ---------------------------------------------------------------------------

def expand_ranges(starts: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Ragged arange: range ``i`` is ``starts[i] .. starts[i] + counts[i] - 1``.
    Returns (range index, value) for every element, ranges in order."""
    counts = np.asarray(counts, dtype=np.int64)
    owner = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    shift = np.repeat(np.asarray(starts, dtype=np.int64) - (np.cumsum(counts) - counts), counts)
    return owner, np.arange(len(owner), dtype=np.int64) + shift


def _band(y, ymin, inv_h, nb) -> np.ndarray:
    """``clip(floor((y - ymin) * inv_h), 0, nb - 1)`` as int64. Monotone in
    y under IEEE rounding; a NaN (NaN y, or inf * 0 in a one-band ring) goes
    to band 0."""
    with np.errstate(invalid="ignore"):
        k = np.minimum(np.floor((y - ymin) * inv_h), nb - 1)
        return np.where(k >= 0, k, 0).astype(np.int64)


class RingBands:
    """Per-ring y-band edge index over many rings: the "bins" crossings test
    (Haines, *Point in Polygon Strategies*, 1994).

    Ring ``r`` is ``xy[vertex_offsets[r]:vertex_offsets[r + 1]]`` with the
    closing edge implied. Edge ``e`` runs from vertex ``e`` to the next
    vertex of its ring (``np.roll``), so edge ids are vertex ids, stored as
    flat ``x0, y0, x1, y1`` arrays. ``boxes`` holds each ring's (minx, miny,
    maxx, maxy), NaN for a ring without vertices.

    Ring ``r``'s y range is cut into ``nb[r]`` equal bands, and a y value
    lies in band ``clip(floor((y - ymin[r]) * inv_h[r]), 0, nb[r] - 1)``.
    That function is monotone under IEEE rounding. An edge with y extent
    ``lo < hi`` can cross a ray at ``py`` only if ``lo <= py < hi``, so
    registering it in bands ``band(lo) .. band(hi)`` finds it from every such
    ``py``, with no padding. An edge without ``lo < hi`` (horizontal, or
    NaN) never crosses and is not registered.

    ``nb[r]`` starts at the ring's edge count and is halved while the ring's
    band entries exceed ``MAX_ENTRIES_PER_EDGE`` times its edges, which long
    edges (a comb) cause; a ring of zero or non-finite height has one band.
    The bands are CSR: band ``b`` of ring ``r`` is global band
    ``g = band_start[r] + b`` and holds edges ``edges[ptr[g]:ptr[g + 1]]``.
    """

    MAX_ENTRIES_PER_EDGE = 8

    def __init__(self, vertex_offsets: np.ndarray, xy: np.ndarray):
        vo = np.asarray(vertex_offsets, dtype=np.int64)
        xy = np.asarray(xy, dtype=np.float64).reshape(-1, 2)
        n_edges = np.diff(vo)
        nonempty = n_edges > 0
        nxt = np.arange(1, len(xy) + 1, dtype=np.int64)
        nxt[vo[1:][nonempty] - 1] = vo[:-1][nonempty]  # closing edge
        self.x0 = np.ascontiguousarray(xy[:, 0])
        self.y0 = np.ascontiguousarray(xy[:, 1])
        self.x1, self.y1 = self.x0[nxt], self.y0[nxt]

        self.boxes = np.full((len(n_edges), 4), np.nan)
        if nonempty.any():
            starts = vo[:-1][nonempty]
            self.boxes[nonempty, :2] = np.minimum.reduceat(xy, starts, axis=0)
            self.boxes[nonempty, 2:] = np.maximum.reduceat(xy, starts, axis=0)
        self.ymin = self.boxes[:, 1]
        h = self.boxes[:, 3] - self.ymin

        ring_of = np.repeat(np.arange(len(n_edges), dtype=np.int64), n_edges)
        lo, hi = np.minimum(self.y0, self.y1), np.maximum(self.y0, self.y1)
        reg = np.flatnonzero(lo < hi)
        er, lo, hi = ring_of[reg], lo[reg], hi[reg]
        nb = np.maximum(n_edges, 1)
        cap = self.MAX_ENTRIES_PER_EDGE * n_edges
        while True:
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                inv_h = nb / h
            flat = ~(np.isfinite(inv_h) & (inv_h > 0))  # zero, NaN or inf height
            nb[flat], inv_h[flat] = 1, 0.0
            klo = _band(lo, self.ymin[er], inv_h[er], nb[er])
            span = _band(hi, self.ymin[er], inv_h[er], nb[er]) - klo + 1
            over = np.bincount(er, weights=span, minlength=len(nb)) > cap
            if not over.any():
                break
            nb[over] //= 2
        self.nb, self.inv_h = nb, inv_h
        self.band_start = np.cumsum(nb) - nb

        owner, band = expand_ranges(self.band_start[er] + klo, span)
        self.edges = reg[owner[np.argsort(band, kind="stable")]]
        self.ptr = np.zeros(int(nb.sum()) + 1, dtype=np.int64)
        np.cumsum(np.bincount(band, minlength=len(self.ptr) - 1), out=self.ptr[1:])

    def crossings(self, px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
        """Query ``i`` casts the ray from (px[i], py[i]) against ring
        ``ring[i]``. Returns the query index of every edge that crosses, so
        ``np.bincount`` of the result counts each query's crossings. Only the
        edges of the band holding ``py[i]`` are tested."""
        g = self.band_start[ring] + _band(py, self.ymin[ring], self.inv_h[ring], self.nb[ring])
        q, slot = expand_ranges(self.ptr[g], self.ptr[g + 1] - self.ptr[g])
        e = self.edges[slot]
        return q[ray_crossings(px[q], py[q], self.x0[e], self.y0[e], self.x1[e], self.y1[e])]


# ---------------------------------------------------------------------------
# WKT (subset: POLYGON with one outer ring) — for boundary export / fixtures
# ---------------------------------------------------------------------------

def ring_to_wkt(ring: np.ndarray) -> str:
    pts = ", ".join(f"{x:.9f} {y:.9f}" for x, y in ring)
    first = ring[0]
    return f"POLYGON (({pts}, {first[0]:.9f} {first[1]:.9f}))"


def wkt_to_ring(wkt: str) -> np.ndarray:
    """Parse the single outer ring of a POLYGON wkt (closing vertex dropped)."""
    inner = wkt[wkt.index("((") + 2 : wkt.rindex("))")]
    pts = [tuple(map(float, p.split())) for p in inner.split(",")]
    if pts[0] == pts[-1]:
        pts = pts[:-1]
    return np.asarray(pts, dtype=np.float64)
