"""G5/G6 tests: ray-cast PIP, STRtree, PIP join, kNN — kernels + Spark stages.

Mirrors the reference's table-driven unit layer (pkg/parser/scanner_test.go)
plus golden comparisons for the graft's PIP-correctness and kNN-ordering
fixtures (BASELINE.json:6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from core_spark.data import synth
from core_spark.data.polygons import admin_polygons, edges_sql_values, gen_polygon
from core_spark.functions import geometry
from core_spark.functions.geometry import (
    RingBands,
    STRtree,
    haversine_m,
    point_in_ring,
    points_in_ring,
    ray_crossings,
    ring_envelope,
    ring_to_wkt,
    wkt_to_ring,
)
from core_spark.operators import pip
from core_spark.operators.knn import guaranteed_radius_m, knn_bruteforce_pandas
from core_spark.operators.pip import match_points, polygon_payload

SQUARE = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
CONCAVE = np.array([[0, 0], [6, 0], [6, 6], [3, 3], [0, 6]], dtype=np.float64)


class TestRayCast:
    @pytest.mark.parametrize(
        "px,py,want",
        [
            (2.0, 2.0, True),
            (-1.0, 2.0, False),
            (5.0, 2.0, False),
            (2.0, -0.5, False),
            (2.0, 4.5, False),
            (3.999999, 3.999999, True),
        ],
    )
    def test_square(self, px, py, want):
        assert point_in_ring(px, py, SQUARE) is want

    def test_concave_notch(self):
        # the notch between (3,3) and y=6 is outside
        assert point_in_ring(3.0, 4.0, CONCAVE) is False
        assert point_in_ring(1.0, 2.0, CONCAVE) is True
        assert point_in_ring(5.0, 2.0, CONCAVE) is True

    def test_half_open_shared_edge(self):
        """A point on the border of two squares sharing edge x=4 belongs to
        exactly one (the right one, whose left edge is crossing-counted)."""
        right = SQUARE + np.array([4.0, 0.0])
        on_edge = (4.0, 2.0)
        in_left = point_in_ring(*on_edge, SQUARE)
        in_right = point_in_ring(*on_edge, right)
        assert in_left != in_right  # exactly one

    def test_vectorized_matches_scalar(self):
        rng = np.random.default_rng(7)
        px = rng.uniform(-1, 7, 500)
        py = rng.uniform(-1, 7, 500)
        vec = points_in_ring(px, py, CONCAVE)
        for i in range(500):
            assert vec[i] == point_in_ring(px[i], py[i], CONCAVE)


def _brute_pairs(boxes, xs, ys) -> set[tuple[int, int]]:
    """Every (point, box) pair with the point in the closed box."""
    return {
        (p, i)
        for p in range(len(xs))
        for i in range(len(boxes))
        if boxes[i, 0] <= xs[p] <= boxes[i, 2] and boxes[i, 1] <= ys[p] <= boxes[i, 3]
    }


def _random_boxes(rng, n):
    return np.sort(rng.uniform(-50, 50, (n, 2, 2)), axis=1).reshape(n, 4)[:, [0, 2, 1, 3]]


def _half_grid(rng, n):
    """Points on a 0.5 grid over [0, 20]: many land on integer box edges and
    corners."""
    return rng.integers(0, 41, n) / 2.0, rng.integers(0, 41, n) / 2.0


def _integer_boxes(rng, n, max_w=4, max_h=4):
    x0, y0 = rng.integers(0, 18, n), rng.integers(0, 18, n)
    w, h = rng.integers(0, max_w + 1, n), rng.integers(0, max_h + 1, n)
    return np.column_stack([x0, y0, x0 + w, y0 + h]).astype(np.float64)


def _batch_case(name):
    rng = np.random.default_rng(sum(map(ord, name)))
    if name == "random":
        xs, ys = rng.uniform(-55, 55, 600), rng.uniform(-55, 55, 600)
        return _random_boxes(rng, 300), xs, ys
    if name == "zero_width_and_height":
        boxes = np.vstack([_integer_boxes(rng, 60, max_w=0), _integer_boxes(rng, 60, max_h=0),
                           _integer_boxes(rng, 20, max_w=0, max_h=0)])
        return boxes, *_half_grid(rng, 800)
    if name == "duplicates":
        boxes = np.vstack([np.tile([[3.0, 3.0, 9.0, 7.0]], (40, 1)), _integer_boxes(rng, 60),
                           np.tile([[5.0, 5.0, 5.0, 5.0]], (17, 1))])
        return rng.permutation(boxes), *_half_grid(rng, 600)
    if name == "nested":
        k = np.arange(40, dtype=np.float64) * 0.25
        return np.column_stack([k, k, 20.0 - k, 20.0 - k]), *_half_grid(rng, 600)
    if name == "edges_and_corners":
        boxes = _integer_boxes(rng, 200)
        corners = boxes[:, [0, 1, 2, 3, 0, 3, 2, 1]].reshape(-1, 2)
        mids = np.column_stack([(boxes[:, 0] + boxes[:, 2]) / 2, boxes[:, 1]])
        pts = np.vstack([corners, mids])
        return boxes, pts[:, 0], pts[:, 1]
    if name == "5000_boxes":
        lo = rng.uniform(-100, 100, (5000, 2))
        boxes = np.hstack([lo, lo + rng.uniform(0, 8, (5000, 2))])
        return boxes, rng.uniform(-105, 105, 400), rng.uniform(-105, 105, 400)
    if name == "empty_tree":
        return np.empty((0, 4)), rng.uniform(0, 1, 50), rng.uniform(0, 1, 50)
    if name == "no_points":
        return _random_boxes(rng, 300), np.empty(0), np.empty(0)
    raise ValueError(name)


class TestSTRtree:
    def test_query_matches_bruteforce(self):
        rng = np.random.default_rng(11)
        boxes = np.sort(rng.uniform(-50, 50, (300, 2, 2)), axis=1).reshape(300, 4)[
            :, [0, 2, 1, 3]
        ]
        tree = STRtree(boxes)
        for _ in range(200):
            x, y = rng.uniform(-55, 55, 2)
            got = set(tree.query_points(np.array([x]), np.array([y]))[1].tolist())
            want = {
                i
                for i in range(300)
                if boxes[i, 0] <= x <= boxes[i, 2] and boxes[i, 1] <= y <= boxes[i, 3]
            }
            assert got == want

    def test_empty(self):
        tree = STRtree(np.empty((0, 4)))
        assert len(tree.query_points(np.zeros(1), np.zeros(1))[1]) == 0

    @pytest.mark.parametrize("case", [
        "random", "zero_width_and_height", "duplicates", "nested",
        "edges_and_corners", "5000_boxes", "empty_tree", "no_points",
    ])
    def test_batch_query_matches_bruteforce(self, case):
        boxes, xs, ys = _batch_case(case)
        tree = STRtree(boxes)
        if case == "5000_boxes":
            assert len(tree.levels) >= 4
            assert len(boxes) % STRtree.NODE_CAP != 0  # ragged last children
        pi, ii = tree.query_points(xs, ys)
        assert pi.dtype == ii.dtype == np.int64
        assert np.all(np.diff(pi) >= 0)  # pairs stay ordered by point
        got = set(zip(pi.tolist(), ii.tolist()))
        assert len(got) == len(pi)
        assert got == _brute_pairs(boxes, xs, ys)


class TestPolygons:
    def test_deterministic_and_disjoint(self):
        a, b = gen_polygon(3), gen_polygon(3)
        assert np.array_equal(a, b)
        polys = admin_polygons(96)
        # envelopes of distinct grid slots never overlap
        for i in range(0, 96, 7):
            for j in range(i + 1, min(i + 8, 96)):
                ei = polys.iloc[i]
                ej = polys.iloc[j]
                sep = (
                    ei.maxx < ej.minx
                    or ej.maxx < ei.minx
                    or ei.maxy < ej.miny
                    or ej.maxy < ei.miny
                )
                assert sep

    def test_wkt_roundtrip(self):
        ring = gen_polygon(5)
        assert np.allclose(wkt_to_ring(ring_to_wkt(ring)), ring)

    def test_edges_sql_values_shape(self):
        sql = edges_sql_values(4)
        assert sql.startswith("VALUES ")
        assert sql.count("(") >= 4 * 5  # >= 5 edges per polygon


def _brute_inside(x: float, y: float, rings) -> bool:
    """Even-odd across all rings (outer + holes)."""
    inside = False
    for ring in rings:
        inside ^= point_in_ring(x, y, np.asarray(ring))
    return inside


def _grid_polygons_and_points():
    """579 polygons: a 24x24 grid of unit squares (ids 1000..1575), one
    holed polygon (id 1300) overlapping squares with lower and higher ids,
    and an antimeridian pair sharing id 7, as a [(admin_id, rings)] list.
    Points sit on shared corners and edges, in the hole, the annulus and the
    fragments; the last 13 are the named cases."""
    squares = [
        (1000 + 24 * r + c,
         [[(-12.0 + c, 10.0 + r), (-11.0 + c, 10.0 + r),
           (-11.0 + c, 11.0 + r), (-12.0 + c, 11.0 + r)]])
        for r in range(24) for c in range(24)
    ]
    outer = [(8.5, 20.5), (20.5, 20.5), (20.5, 30.5), (8.5, 30.5)]
    hole = [(14.0, 23.0), (18.0, 23.0), (18.0, 27.0), (14.0, 27.0)]
    west = [(-180.0, -5.0), (-178.0, -5.0), (-178.0, 0.0), (-180.0, 0.0)]
    east = [(178.0, -5.0), (180.0, -5.0), (180.0, 0.0), (178.0, 0.0)]
    rng = np.random.default_rng(29)
    vx, vy = rng.integers(-12, 13, 40), rng.integers(10, 35, 40)
    pts = np.vstack([
        np.column_stack([vx, vy]),                       # shared corners
        np.column_stack([vx + 0.5, vy]),                 # shared edges
        np.column_stack([rng.uniform(-13, 21, 50), rng.uniform(9, 35, 50)]),
        [(16.0, 25.0), (19.0, 29.0), (11.5, 20.75), (11.5, 22.0), (8.5, 25.0),
         (20.5, 25.0), (14.0, 25.0), (-179.0, -2.0), (179.0, -2.0),
         (-180.0, -2.0), (180.0, -2.0), (178.0, 0.0), (0.0, -2.0)],
    ]).astype(np.float64)
    return squares + [(1300, [outer, hole]), (7, [west]), (7, [east])], pts


def _match(lons, lats, payload):
    """``match_points`` over a list-form polygon table, packed and
    fingerprinted by ``polygon_payload`` as ``pip_join`` does."""
    return match_points(lons, lats, *polygon_payload(TestPackedPayload._table(payload)))


class TestMatchPoints:
    def test_centers_match_own_polygon(self):
        polys = admin_polygons(96)
        payload = [(int(r.admin_id), [list(ring) for ring in r.rings]) for r in polys.itertuples()]
        for r in polys.itertuples():
            ring = np.asarray(r.ring)
            cx, cy = ring[:, 0].mean(), ring[:, 1].mean()
            got = _match(np.array([cx]), np.array([cy]), payload)
            if len(r.rings) > 1 and _brute_inside(cx, cy, r.rings[1:]) :
                assert got[0] == -1  # centroid sits in the hole
            else:
                assert got[0] == r.admin_id
        # far-ocean point matches nothing
        assert _match(np.array([0.0]), np.array([-89.0]), payload)[0] == -1

    def test_holes_excluded(self):
        """Every 7th polygon carries a hole; points in the hole are outside,
        points in the annulus are inside — engine and even-odd agree."""
        polys = admin_polygons(96)
        holed = polys[polys["rings"].apply(len) > 1]
        assert len(holed) > 0
        payload = [(int(r.admin_id), [list(ring) for ring in r.rings]) for r in polys.itertuples()]
        for r in holed.itertuples():
            outer = np.asarray(r.rings[0])
            hole = np.asarray(r.rings[1])
            hc = hole.mean(axis=0)  # deep inside the hole
            got = _match(np.array([hc[0]]), np.array([hc[1]]), payload)
            assert got[0] == -1
            # a point midway between hole edge and outer edge (annulus)
            mid = (hole[0] + outer[0]) / 2.0
            got2 = _match(np.array([mid[0]]), np.array([mid[1]]), payload)
            assert got2[0] == r.admin_id

    def test_antimeridian_split_fragments_share_id(self):
        """A crossing polygon pre-split into two fragments with one admin_id:
        points in either fragment resolve to that id."""
        west = [(-180.0, 0.0), (-178.0, 0.0), (-178.0, 5.0), (-180.0, 5.0)]
        east = [(178.0, 0.0), (180.0, 0.0), (180.0, 5.0), (178.0, 5.0)]
        payload = [(7, [west]), (7, [east])]
        got = _match(
            np.array([-179.0, 179.0, 0.0]), np.array([2.0, 2.0, 2.0]), payload
        )
        assert got.tolist() == [7, 7, -1]

    def test_nan_polygon_matches_nothing_and_blanks_nothing(self):
        """A NaN vertex makes its own polygon match nothing; the tree's parent
        boxes skip its NaN envelope, so every other polygon still matches."""
        nan_square = [(np.nan, 0.0), (3.0, 0.0), (3.0, 1.0), (2.0, 1.0)]
        unit = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
        got = _match(np.array([0.5, 2.5]), np.array([0.5, 0.5]),
                           [(1, [unit]), (2, [nan_square])])
        assert got.tolist() == [1, -1]
        # a multi-level tree: 300 disjoint squares, with and without the NaN one
        squares = [(i, [[(x, y), (x + 0.9, y), (x + 0.9, y + 0.9), (x, y + 0.9)]])
                   for i, (x, y) in enumerate((x, y) for x in range(20) for y in range(15))]
        rng = np.random.default_rng(5)
        lons, lats = rng.uniform(-1, 21, 20_000), rng.uniform(-1, 16, 20_000)
        want = _match(lons, lats, squares)
        assert (want != -1).sum() > 10_000
        got = _match(lons, lats, squares[:150] + [(999, [nan_square])] + squares[150:])
        assert got.tolist() == want.tolist()

    def test_matches_bruteforce_on_corpus(self):
        polys = admin_polygons(96)
        payload = [(int(r.admin_id), [list(ring) for ring in r.rings]) for r in polys.itertuples()]
        pages = synth.webpages_pandas(400)
        pts = pages.dropna(subset=["true_lat"])
        lons = pts["true_lon"].to_numpy()
        lats = pts["true_lat"].to_numpy()
        got = _match(lons, lats, payload)
        for i in range(len(lons)):
            want = -1
            for r in polys.itertuples():
                if _brute_inside(lons[i], lats[i], r.rings):
                    want = r.admin_id
                    break
            assert got[i] == want

    def test_matches_bruteforce_above_512_polygons(self):
        payload, pts = _grid_polygons_and_points()
        assert len(payload) > 512
        lons, lats = pts[:, 0], pts[:, 1]
        got = _match(lons, lats, payload)
        for i in range(len(pts)):
            owners = [aid for aid, rings in payload
                      if _brute_inside(lons[i], lats[i], rings)]
            assert got[i] == min(owners, default=-1)
        # hole, annulus, square 1263 beating 1300, 1300 beating square 1311,
        # then half-open edges of the holed polygon and the fragments
        assert got[-13:].tolist() == [
            -1, 1300, 1263, 1300, 1300, -1, -1, 7, 7, 7, -1, -1, -1]


class TestPackedPayload:
    """``polygon_payload`` ships the polygon table as flat numpy arrays;
    ``match_points`` gives the same ids on it as on the list form."""

    @staticmethod
    def _table(payload) -> pd.DataFrame:
        return pd.DataFrame({"admin_id": [a for a, _ in payload],
                             "rings": [rs for _, rs in payload]})

    @staticmethod
    def _list_form(polys: pd.DataFrame) -> list:
        return [(int(r.admin_id), [list(ring) for ring in r.rings])
                for r in polys.itertuples()]

    @staticmethod
    def _owners(lons, lats, payload) -> list:
        """Lowest admin_id whose rings hold each point (even-odd), -1 if
        none: every polygon against every point, no tree, no packing."""
        out = np.full(len(lons), -1, dtype=np.int64)
        for aid, rings in sorted(payload, key=lambda e: e[0], reverse=True):
            inside = np.zeros(len(lons), dtype=bool)
            for ring in rings:
                inside ^= points_in_ring(lons, lats, np.asarray(ring, dtype=np.float64))
            out[inside] = aid
        return out.tolist()

    def _check(self, lons, lats, payload, packed, fp) -> np.ndarray:
        got = match_points(lons, lats, packed, fp=fp)
        assert got.tolist() == self._owners(lons, lats, payload)
        # the list form, under a fingerprint of the caller's own (a cache
        # miss), packs itself and must give the same ids
        assert match_points(lons, lats, payload, fp=fp ^ 1).tolist() == got.tolist()
        return got

    def test_admin_polygons_with_holes(self):
        polys = admin_polygons(96)
        assert (polys["rings"].apply(len) > 1).any()
        packed, fp = polygon_payload(polys)
        rng = np.random.default_rng(3)
        holes = np.asarray([np.asarray(rs[1]).mean(axis=0)
                            for rs in polys["rings"] if len(rs) > 1])
        lons = np.r_[rng.uniform(-180, 180, 20_000), holes[:, 0]]
        lats = np.r_[rng.uniform(-75, 75, 20_000), holes[:, 1]]
        got = self._check(lons, lats, self._list_form(polys), packed, fp)
        assert (got != -1).sum() > 800 and (got[-len(holes):] == -1).all()

    def test_overlaps_and_antimeridian_pair(self):
        payload, pts = _grid_polygons_and_points()
        packed, fp = polygon_payload(self._table(payload))
        assert len(packed.ids) == 579 and (packed.ids == 7).sum() == 2
        got = self._check(pts[:, 0], pts[:, 1], payload, packed, fp)
        assert got[-13:].tolist() == [
            -1, 1300, 1263, 1300, 1300, -1, -1, 7, 7, 7, -1, -1, -1]

    def test_empty_polygon_table(self):
        packed, fp = polygon_payload(admin_polygons(0))
        assert len(packed.ids) == 0 and packed.xy.shape == (0, 2)
        lons, lats = np.array([0.0, 10.0]), np.array([0.0, -5.0])
        assert self._check(lons, lats, [], packed, fp).tolist() == [-1, -1]

    def test_fingerprint_follows_content(self):
        _, fp = polygon_payload(admin_polygons(96))
        polys = admin_polygons(96)
        assert polygon_payload(polys)[1] == fp
        ring = list(polys.at[5, "rings"][0])
        x, y = ring[2]
        ring[2] = (float(np.nextafter(x, np.inf)), y)
        polys.at[5, "rings"] = [ring] + polys.at[5, "rings"][1:]
        assert polygon_payload(polys)[1] != fp

    def test_payload_is_flat_arrays(self):
        import cloudpickle

        polys = admin_polygons(144)
        packed, _ = polygon_payload(polys)
        assert all(isinstance(a, np.ndarray) for a in packed)
        vertices = len(packed.xy)
        assert vertices == sum(len(r) for rs in polys["rings"] for r in rs)
        assert len(cloudpickle.dumps(packed)) <= 16 * vertices + 4096


def _owners_by_polygon(lons, lats, payload) -> np.ndarray:
    """Reference owner per point: polygon by polygon, the points in its outer
    ring's closed envelope are ray-cast by ``points_in_ring`` ring by ring
    (even-odd); the lowest admin_id wins, -1 if none."""
    out = np.full(len(lons), -1, dtype=np.int64)
    for aid, rings in sorted(payload, key=lambda e: e[0], reverse=True):
        rings = [np.asarray(r, dtype=np.float64) for r in rings]
        (x0, y0), (x1, y1) = rings[0].min(axis=0), rings[0].max(axis=0)
        idx = np.flatnonzero((x0 <= lons) & (lons <= x1) & (y0 <= lats) & (lats <= y1))
        inside = np.zeros(len(idx), dtype=bool)
        for ring in rings:
            inside ^= points_in_ring(lons[idx], lats[idx], ring)
        out[idx[inside]] = aid
    return out


def _pip_case(name):
    """(list-form payload, lons, lats) for the batch-size tests."""
    rng = np.random.default_rng(sum(map(ord, name)))
    if name == "hex_polygons":
        from perfbench.workloads import gen_points, hex_polygons

        _, lats, lons = gen_points(12_000, 0)
        return TestPackedPayload._list_form(hex_polygons()), lons, lats
    if name == "admin_polygons_96":
        polys = admin_polygons(96)
        holes = np.asarray([np.asarray(rs[1]).mean(axis=0)
                            for rs in polys["rings"] if len(rs) > 1])
        lons = np.r_[rng.uniform(-180, 180, 12_000), holes[:, 0]]
        lats = np.r_[rng.uniform(-75, 75, 12_000), holes[:, 1]]
        return TestPackedPayload._list_form(polys), lons, lats
    payload, pts = _grid_polygons_and_points()
    lons = np.r_[rng.integers(-26, 43, 6_000) / 2.0, rng.uniform(-13, 21, 6_000), pts[:, 0]]
    lats = np.r_[rng.integers(18, 71, 6_000) / 2.0, rng.uniform(9, 35, 6_000), pts[:, 1]]
    return payload, lons, lats


class TestBatchSizeInvariance:
    """Spark calls ``match_points`` once per Arrow batch: its answer for a
    point must not depend on which other points share the call."""

    @pytest.mark.parametrize("case", ["hex_polygons", "admin_polygons_96", "grid_579"])
    def test_chunks_equal_whole_and_reference(self, case):
        payload, lons, lats = _pip_case(case)
        packed, fp = polygon_payload(TestPackedPayload._table(payload))
        whole = match_points(lons, lats, packed, fp=fp)
        want = _owners_by_polygon(lons, lats, payload)
        assert whole.tolist() == want.tolist()
        assert (whole != -1).sum() > len(lons) // 20
        for size in (1, 7, 1_000, 10_000):
            parts = [match_points(lons[s:s + size], lats[s:s + size], packed, fp=fp)
                     for s in range(0, len(lons), size)]
            assert np.concatenate(parts).tolist() == whole.tolist(), size

    def test_refine_never_loops_over_polygons(self, monkeypatch):
        """The refine tests candidate pairs in one pass; a per-polygon
        ``points_in_ring`` loop coming back would raise here."""
        def boom(*_):
            raise AssertionError("per-polygon ray cast in match_points")

        payload, pts = _grid_polygons_and_points()
        want = _owners_by_polygon(pts[:, 0], pts[:, 1], payload)
        monkeypatch.setattr(geometry, "points_in_ring", boom)
        monkeypatch.setattr(geometry, "point_in_ring", boom)
        monkeypatch.setattr(pip, "points_in_ring", boom, raising=False)
        got = _match(pts[:, 0], pts[:, 1], payload)
        assert got.tolist() == want.tolist()


def _comb(teeth: int, height: float) -> np.ndarray:
    """Zig-zag comb: ``2 * teeth`` edges each spanning the full height, on a
    base strip below."""
    zig = [(float(i), height * (i % 2)) for i in range(2 * teeth + 1)]
    return np.asarray(zig + [(2.0 * teeth, -1.0), (0.0, -1.0)])


STAIRS = np.array([[0, 0], [4, 0], [4, 1], [3, 1], [3, 2], [2, 2], [2, 3],
                   [1, 3], [1, 4], [0, 4]], dtype=np.float64)
BAND_RINGS = {
    "square": SQUARE,
    "concave": CONCAVE,
    "stairs": STAIRS,  # horizontal edges at every integer y
    "skew": np.array([[0.1, 0.3], [3.7, 1.9], [2.2, 7.3], [0.9, 5.55], [-1.3, 2.05]]),
    "zero_height": np.array([[0.0, 2.0], [3.0, 2.0], [6.0, 2.0]]),
    "one_vertex": np.array([[1.0, 1.0]]),
    "comb": _comb(20, 10.0),
    "inf_vertex": np.array([[0.0, 0.0], [4.0, 0.0], [4.0, np.inf], [0.0, 3.0]]),
    "nan_x_vertex": np.array([[0.0, 0.0], [4.0, 0.0], [np.nan, 3.0], [0.0, 3.0]]),
    "nan_y_vertex": np.array([[0.0, 0.0], [4.0, 0.0], [4.0, np.nan], [0.0, 3.0]]),
    "star": (lambda t: np.column_stack([3 + (2 + np.sin(5 * t)) * np.cos(t),
                                        3 + (2 + np.sin(5 * t)) * np.sin(t)]))(
        np.linspace(0, 2 * np.pi, 97, endpoint=False)),
}


def _band_probes(bands: RingBands, r: int, ring: np.ndarray) -> np.ndarray:
    """y values that stress ring ``r``'s bands: every vertex y and each
    computed band boundary, with both neighbouring doubles, plus values
    above and below the ring, NaN and +-inf."""
    ys = [ring[:, 1]]
    if bands.inv_h[r] > 0:
        ys.append(bands.ymin[r] + np.arange(bands.nb[r] + 1) / bands.inv_h[r])
    ys = np.concatenate(ys)
    ys = ys[np.isfinite(ys)]
    return np.r_[ys, np.nextafter(ys, -np.inf), np.nextafter(ys, np.inf),
                 -1e9, -50.0, 50.0, 1e9, np.nan, np.inf, -np.inf]


class TestRingBands:
    """``RingBands.crossings`` finds exactly the crossings a full-ring scan
    finds, so its parity equals ``points_in_ring``."""

    @staticmethod
    def _index():
        rings = list(BAND_RINGS.values())
        vo = np.cumsum([0] + [len(r) for r in rings])
        return rings, RingBands(vo, np.vstack(rings))

    def test_crossings_equal_full_scan(self):
        rings, bands = self._index()
        xs = np.r_[np.linspace(-2.0, 8.0, 21), 3.0 + 1e-12, np.nan, np.inf, -np.inf]
        for r, ring in enumerate(rings):
            ys = _band_probes(bands, r, ring)
            px, py = np.repeat(xs, len(ys)), np.tile(ys, len(xs))
            got = np.bincount(bands.crossings(px, py, np.full(len(px), r)),
                              minlength=len(px))
            x0, y0 = ring[:, 0], ring[:, 1]
            full = ray_crossings(px[:, None], py[:, None], x0, y0,
                                 np.roll(x0, -1), np.roll(y0, -1)).sum(axis=1)
            name = list(BAND_RINGS)[r]
            assert got.tolist() == full.tolist(), name
            assert ((got & 1) == 1).tolist() == points_in_ring(px, py, ring).tolist(), name
            assert (got > 0).any() or name in ("zero_height", "one_vertex"), name

    def test_band_layout(self):
        rings, bands = self._index()
        edges = np.array([len(r) for r in rings])
        per_ring = np.add.reduceat(np.diff(bands.ptr), bands.band_start)
        assert (per_ring <= RingBands.MAX_ENTRIES_PER_EDGE * edges).all()
        names = list(BAND_RINGS)
        # the comb's full-height edges force the halving; a skew ring keeps
        # one band per edge, and a ring of zero or non-finite height has one
        comb = names.index("comb")
        assert 1 < bands.nb[comb] < edges[comb] // 2
        assert bands.nb[names.index("skew")] == edges[names.index("skew")]
        for name in ("zero_height", "one_vertex", "inf_vertex", "nan_y_vertex"):
            assert bands.nb[names.index(name)] == 1, name
        # horizontal edges are never registered
        stairs = names.index("stairs")
        s = bands.band_start[stairs]
        registered = set(bands.edges[bands.ptr[s]:bands.ptr[s + bands.nb[stairs]]].tolist())
        first = int(np.cumsum([0] + [len(r) for r in rings])[stairs])
        assert registered == {first + e for e in range(1, len(STAIRS), 2)}

    def test_match_points_on_band_edge_cases(self):
        """The same rings as polygons (one of them holed by the zero-height
        ring), points on vertex ys, band boundaries, outside every ring and
        non-finite: ``match_points`` equals the per-polygon reference."""
        # NaN polygons are fuzzed in TestPipFuzz
        names = [n for n in BAND_RINGS if not n.startswith("nan")]
        payload = [(10 + i, [BAND_RINGS[n].tolist()]) for i, n in enumerate(names)]
        payload.append((5, [BAND_RINGS["square"].tolist(),
                            (BAND_RINGS["zero_height"] * [0.5, 1.0]).tolist()]))
        _, bands = self._index()
        ys = np.unique(np.concatenate([_band_probes(bands, r, ring) for r, ring in
                                       enumerate(BAND_RINGS.values())]))
        xs = np.r_[np.linspace(-2.0, 8.0, 41), np.nan, np.inf, -np.inf]
        lons, lats = np.repeat(xs, len(ys)), np.tile(ys, len(xs))
        packed, fp = polygon_payload(TestPackedPayload._table(payload))
        got = match_points(lons, lats, packed, fp=fp)
        assert got.tolist() == _owners_by_polygon(lons, lats, payload).tolist()
        assert len(set(got.tolist())) > 5



_GRID = 16.0  # vertices and points snap to 1/16 degree, so ties on edges are common


def _snap(v) -> float:
    return float(np.round(np.asarray(v) * _GRID) / _GRID)


@st.composite
def _star(draw, cx: float, cy: float, r_max: float = 4.0) -> list:
    """Star-shaped ring about (cx, cy): 3-9 vertices at increasing angles,
    each at its own radius, snapped to the grid (so it may self-touch)."""
    n = draw(st.integers(3, 9))
    angles = sorted(draw(st.lists(st.floats(0, 2 * np.pi, allow_nan=False),
                                  min_size=n, max_size=n)))
    radii = draw(st.lists(st.floats(0.1, r_max), min_size=n, max_size=n))
    return [(_snap(cx + r * np.cos(t)), _snap(cy + r * np.sin(t)))
            for t, r in zip(angles, radii)]


@st.composite
def _fuzz_polygon(draw) -> list:
    """One table entry, or two for an antimeridian pair: [(admin_id, rings)].
    Ids come from a small range, so duplicate ids are common."""
    aid = draw(st.integers(0, 12))
    kind = draw(st.sampled_from(
        ["star", "holed", "holed", "antimeridian", "degenerate", "nan"]))
    if kind == "antimeridian":
        y0 = _snap(draw(st.floats(-8, 6)))
        w, h = _snap(draw(st.floats(0.25, 3))), _snap(draw(st.floats(0.25, 4)))
        west = [(-180.0, y0), (-180.0 + w, y0), (-180.0 + w, y0 + h), (-180.0, y0 + h)]
        east = [(180.0 - w, y0), (180.0, y0), (180.0, y0 + h), (180.0 - w, y0 + h)]
        return [(aid, [west]), (aid, [east])]
    cx, cy = _snap(draw(st.floats(-8, 8))), _snap(draw(st.floats(-8, 8)))
    if kind == "degenerate":  # one vertex, a doubled vertex, or a line
        x1, y1 = _snap(draw(st.floats(-8, 8))), _snap(draw(st.floats(-8, 8)))
        ring = draw(st.sampled_from([
            [(cx, cy)], [(cx, cy), (cx, cy), (cx, cy)], [(cx, cy), (x1, y1)],
            [(cx, cy), ((cx + x1) / 2, (cy + y1) / 2), (x1, y1)],
        ]))
        return [(aid, [ring])]
    outer = draw(_star(cx, cy))
    rings = [outer]
    if kind == "holed":  # the hole may poke out of the outer ring: even-odd
        rings.append(draw(_star(cx, cy, r_max=2.0)))
    if kind == "nan":  # a non-finite vertex in the outer ring, maybe a hole too
        i = draw(st.integers(0, len(outer) - 1))
        x, y = outer[i]
        outer[i] = draw(st.sampled_from([(np.nan, y), (x, np.nan), (np.nan, np.nan)]))
        if draw(st.booleans()):
            rings.append(draw(_star(cx, cy, r_max=2.0)))
    return [(aid, rings)]


@st.composite
def _fuzz_case(draw):
    """(polygon table, lons, lats, batch cut points)."""
    table = [e for es in draw(st.lists(_fuzz_polygon(), min_size=1, max_size=25)) for e in es]
    vertices = np.asarray([v for _, rs in table for r in rs for v in r], dtype=np.float64)
    vertices = vertices[np.isfinite(vertices).all(axis=1)]
    n_random = draw(st.integers(0, 300))
    seed = draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    lons = np.r_[np.round(rng.uniform(-10, 10, n_random) * _GRID) / _GRID,
                 vertices[:, 0], -180.0, 180.0, -179.5, 179.5, np.nan, 0.0]
    lats = np.r_[np.round(rng.uniform(-10, 10, n_random) * _GRID) / _GRID,
                 vertices[:, 1], 0.0, 0.0, 1.0, 1.0, 0.0, np.nan]
    cuts = sorted(draw(st.lists(st.integers(0, len(lons)), max_size=6)))
    return table, lons, lats, cuts


class TestPipFuzz:
    """Random polygon tables (star-shaped rings, holes, overlaps, duplicate
    ids, antimeridian fragments, degenerate and NaN rings), random points
    and random batch splits: ``match_points`` equals the per-polygon
    ``points_in_ring`` owner scan with the lowest-id tie-break."""

    @settings(max_examples=150, deadline=None)
    @given(_fuzz_case())
    def test_match_points_equals_owner_scan(self, case):
        table, lons, lats, cuts = case
        packed, fp = polygon_payload(TestPackedPayload._table(table))
        edges = [0, *cuts, len(lons)]
        got = np.concatenate([match_points(lons[a:b], lats[a:b], packed, fp=fp)
                              for a, b in zip(edges, edges[1:])])
        # a NaN polygon matches nothing and leaves every other point's id
        # as it is without that polygon in the table
        finite = [(aid, rs) for aid, rs in table
                  if not np.isnan(np.asarray(rs[0], dtype=np.float64)).any()]
        want = _owners_by_polygon(lons, lats, finite)
        assert got.tolist() == want.tolist()
        if len(finite) < len(table):
            assert _match(lons, lats, finite).tolist() == got.tolist()


class TestHaversine:
    def test_known_distance(self):
        # London -> Paris ≈ 343.5 km
        d = haversine_m(51.5074, -0.1278, 48.8566, 2.3522)
        assert 342_000 < float(d) < 345_000

    def test_zero_and_antipode(self):
        assert float(haversine_m(10, 20, 10, 20)) == 0.0
        half = float(haversine_m(0, 0, 0, 180))
        assert abs(half - np.pi * 6_371_008.8) < 1.0


class TestKnnBound:
    def test_guaranteed_radius_monotone(self):
        assert guaranteed_radius_m(5, 3) > guaranteed_radius_m(5, 2) > 0
        assert guaranteed_radius_m(5, 1) >= 0


@pytest.mark.spark
class TestSparkStages:
    def test_pip_join(self, spark):
        from core_spark.operators.pip import pip_join

        polys = admin_polygons(96)
        payload = [(int(r.admin_id), [list(ring) for ring in r.rings]) for r in polys.itertuples()]
        pages = synth.webpages_pandas(300)
        pts = pages.dropna(subset=["true_lat"])[["doc_id", "true_lat", "true_lon"]]
        pts = pts.rename(columns={"true_lat": "lat", "true_lon": "lon"})
        sdf = spark.createDataFrame(pts)
        got = (
            pip_join(sdf, polys)
            .toPandas()
            .set_index("doc_id")["admin_id"]
            .sort_index()
        )
        want = _match(
            pts["lon"].to_numpy(), pts["lat"].to_numpy(), payload
        )
        want_s = pd.Series(
            [None if w == -1 else w for w in want], index=pts["doc_id"].to_numpy()
        ).sort_index()
        assert len(got) == len(want_s)
        for d in got.index:
            g = got.loc[d]
            w = want_s.loc[d]
            assert (pd.isna(g) and pd.isna(w)) or g == w

    def test_knn_matches_bruteforce(self, spark):
        from core_spark.operators.knn import knn_join
        from core_spark.operators.tiles import assign_tiles

        pages = synth.webpages_pandas(500)
        docs_pd = (
            pages.dropna(subset=["true_lat"])[["doc_id", "true_lat", "true_lon"]]
            .rename(columns={"true_lat": "lat", "true_lon": "lon"})
        )
        queries_pd = pd.DataFrame(
            {
                "query_id": range(8),
                "qlat": [40.7, 35.6, -23.5, 0.0, 51.5, -33.8, 64.1, 1.3],
                "qlon": [-74.0, 139.7, -46.6, 10.0, -0.1, 151.2, -21.9, 103.8],
            }
        )
        docs = assign_tiles(spark.createDataFrame(docs_pd), resolutions=(0,))
        got = (
            knn_join(docs, spark.createDataFrame(queries_pd), k=3, res=0, ring=2)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        want = knn_bruteforce_pandas(docs_pd, queries_pd, k=3)
        # mega-center queries (0,1,2: dense doc clusters) must be provably
        # complete; every complete query must match brute force exactly
        complete_q = set(got[got["complete"]]["query_id"])
        assert {0, 1, 2} <= complete_q
        for qid in complete_q:
            g = got[got["query_id"] == qid]
            w = want[want["query_id"] == qid]
            assert g["doc_id"].tolist() == w["doc_id"].tolist()
            assert np.allclose(g["dist_m"], w["dist_m"], rtol=1e-9)


@pytest.mark.spark
class TestKnnAdaptive:
    def test_adaptive_completes_stragglers(self, spark):
        """Sparse-region queries that are incomplete at ring=2 get re-run at
        doubled rings until provably complete, and then match brute force."""
        from core_spark.operators.knn import knn_adaptive, knn_bruteforce_pandas
        from core_spark.operators.tiles import assign_tiles

        pages = synth.webpages_pandas(500)
        docs_pd = (
            pages.dropna(subset=["true_lat"])[["doc_id", "true_lat", "true_lon"]]
            .rename(columns={"true_lat": "lat", "true_lon": "lon"})
        )
        queries_pd = pd.DataFrame(
            {
                "query_id": range(6),
                "qlat": [40.7, 35.6, -23.5, 0.0, 64.1, -45.0],
                "qlon": [-74.0, 139.7, -46.6, 10.0, -21.9, -170.0],
            }
        )
        docs = assign_tiles(spark.createDataFrame(docs_pd), resolutions=(0,))
        got = (
            knn_adaptive(
                docs, spark.createDataFrame(queries_pd), k=3, res=0, ring=2,
                max_rounds=4,
            )
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        want = knn_bruteforce_pandas(docs_pd, queries_pd, k=3)
        # every query that ended complete must match brute force exactly
        comp = got[got["complete"]]
        assert len(set(comp["query_id"])) >= 4  # adaptive resolved stragglers
        for qid in set(comp["query_id"]):
            g = got[got["query_id"] == qid]
            w = want[want["query_id"] == qid]
            assert g["doc_id"].tolist() == w["doc_id"].tolist()
        # no duplicate (query, rank) rows from the union
        assert not got.duplicated(subset=["query_id", "rank"]).any()

    def test_bruteforce_stage_gated_when_ring_pass_completes(self, spark):
        """When every query completes in the ring pass, the brute-force
        fallback must not be scheduled at all: the result plan carries no
        nested-loop/cartesian docs scan (at 10^12 docs an un-elided empty
        fallback is a full-table scan per kNN call)."""
        from core_spark.operators.knn import knn_adaptive
        from core_spark.operators.tiles import assign_tiles

        pages = synth.webpages_pandas(500)
        docs_pd = (
            pages.dropna(subset=["true_lat"])[["doc_id", "true_lat", "true_lon"]]
            .rename(columns={"true_lat": "lat", "true_lon": "lon"})
        )
        # mega-center queries only: dense clusters, complete at ring=2
        queries_pd = pd.DataFrame(
            {"query_id": [0, 1, 2],
             "qlat": [40.7, 35.6, -23.5], "qlon": [-74.0, 139.7, -46.6]}
        )
        docs = assign_tiles(spark.createDataFrame(docs_pd), resolutions=(0,))
        out = knn_adaptive(
            docs, spark.createDataFrame(queries_pd), k=3, res=0, ring=2,
            max_rounds=1,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert set(out.toPandas()["query_id"]) == {0, 1, 2}
