"""G5 — point-in-polygon join: broadcast STRtree + ray-cast refinement.

Plan shape (SURVEY.md G5): the polygon side (admin boundaries, 10^2..10^5
rows) is tiny next to 10^12 documents, so it is broadcast — zero shuffle on
the document side, the join runs map-side inside one Arrow stage:

    docs --(mapInPandas, Arrow batches)--> [envelope STRtree probe]
                                           [y-band ray-cast refine on candidates]
         --> (key_cols..., lat, lon, admin_id)

The polygon side travels inside the UDF closure as a ``PolygonPayload``: four
flat numpy arrays (ids, ring offsets, vertex offsets, one (v, 2) float64
vertex array), which pickle as raw buffers. Every task deserializes the
closure; the STRtree and the rings' y-band edge index (``RingBands``) are
built ONCE PER EXECUTOR PROCESS from it (lazy module-global keyed by the
payload's crc32 fingerprint — the analog of the reference's compiled-query
cache, pkg/parser/tspool/query.go:33-66, and its one-grammar-init-per-process
discipline, pool.go:60-76).

Scale notes:
  * No shuffle, no skew sensitivity: mega-cell documents distribute over
    whatever partitioning the scan produced. AQE has nothing to fix here.
  * The envelope probe is a batch, level-wise STRtree descent: each Arrow
    batch walks the tree together, one numpy pass per level (depth ~log16 P)
    over the live (point, node) pairs, with no per-point Python. The refine
    then ray-casts all candidate pairs of the batch in one vectorized pass:
    each pair against only the edges in its point's y-band of each of the
    polygon's rings (a few edges, not the ring's hundreds), so its cost
    follows the number of pairs, not the number of polygons they touch.
    Spark calls the kernel once per Arrow batch (at most 10k rows), so a
    per-polygon step would be paid again in every batch.
  * If the polygon side ever outgrows broadcast (continent-scale cadastral
    data), the escape hatch is the cell-prefix range join (SURVEY.md §4) —
    not needed at admin-boundary cardinality.

Unmatched documents keep admin_id NULL (left join semantics, error-as-data).
"""

from __future__ import annotations

import zlib
from itertools import chain
from typing import NamedTuple

import numpy as np
import pandas as pd

from core_spark.functions.geometry import RingBands, STRtree, expand_ranges

# executor-global index cache: {fingerprint: (tree, bands, ring_offsets, admin_ids)}
_TREE_CACHE: dict[int, tuple] = {}


class PolygonPayload(NamedTuple):
    """A polygon table as flat arrays: polygon ``i`` has id ``ids[i]`` and
    rings ``ring_offsets[i]:ring_offsets[i + 1]`` (outer first, then holes);
    ring ``k`` is ``xy[vertex_offsets[k]:vertex_offsets[k + 1]]``, (x, y)
    rows with the closing edge implied."""

    ids: np.ndarray             # int64 (n,)
    ring_offsets: np.ndarray    # int64 (n + 1,)
    vertex_offsets: np.ndarray  # int64 (rings + 1,)
    xy: np.ndarray              # float64 (vertices, 2)


def _rings_of(rings) -> list:
    """Accept one ring (list of (x, y)) or several (list of rings)."""
    first = rings[0]
    if isinstance(first, (tuple, list)) and len(first) == 2 and not isinstance(
        first[0], (tuple, list)
    ):
        return [rings]
    return list(rings)


def _pack(entries) -> PolygonPayload:
    """[(admin_id, ring | [outer, hole...])] -> PolygonPayload (a
    PolygonPayload is returned as it is)."""
    if isinstance(entries, PolygonPayload):
        return entries
    entries = list(entries)
    ringsets = [_rings_of(rs) for _, rs in entries]
    rings = [r for rs in ringsets for r in rs]
    vertex_counts = [len(r) for r in rings]
    xy = np.fromiter(chain.from_iterable(chain.from_iterable(rings)), np.float64,
                     2 * sum(vertex_counts)).reshape(-1, 2)
    return PolygonPayload(
        np.asarray([a for a, _ in entries], dtype=np.int64).reshape(-1),
        np.cumsum([0] + [len(rs) for rs in ringsets], dtype=np.int64),
        np.cumsum([0] + vertex_counts, dtype=np.int64),
        xy,
    )


def _fingerprint(payload: PolygonPayload) -> int:
    """crc32 over the payload's buffers — computed once on the driver so
    every task of every stage maps to the same executor-side cache entry."""
    crc = 0
    for a in payload:
        crc = zlib.crc32(a, crc)
    return crc & 0xFFFFFFFF


def polygon_payload(polygons: pd.DataFrame) -> tuple[PolygonPayload, int]:
    """(admin_id, rings) rows -> the packed payload and its fingerprint."""
    payload = _pack((r.admin_id, r.rings) for r in polygons.itertuples())
    return payload, _fingerprint(payload)


def _build(payload: PolygonPayload | list[tuple[int, list]], key: int):
    """payload -> (tree, ring bands, ring offsets, ids), cached under ``key``.

    A list payload, [(admin_id, ring | [outer, hole...])], is packed first.
    The tree indexes each polygon's outer-ring envelope; ``RingBands`` holds
    every ring's edges, banded by y. Multi-ring polygons use even-odd parity
    (crossings summed over all rings), so holes fall out of the same
    ray-cast rule. Antimeridian-crossing polygons are pre-split at ingestion
    into two fragments sharing one admin_id — duplicate ids in the payload
    are deliberate and handled by the lowest-id tie-break (identical id
    either way).
    """
    hit = _TREE_CACHE.get(key)
    if hit is not None:
        return hit
    ids, ro, vo, xy = _pack(payload)
    bands = RingBands(vo, xy)
    built = (STRtree(bands.boxes[ro[:-1]]), bands, ro, ids)
    _TREE_CACHE.clear()  # one active polygon set per executor
    _TREE_CACHE[key] = built
    return built


def match_points(
    lons: np.ndarray,
    lats: np.ndarray,
    payload: PolygonPayload | list[tuple[int, list]],
    fp: int,
) -> np.ndarray:
    """Pure kernel: point arrays -> admin_id per point (-1 = no match).

    ``payload`` is a ``polygon_payload`` or a list of
    (admin_id, ring | [outer, hole...]); ``fp`` is its fingerprint, the
    key of the executor's index cache.
    One vectorized pass over the candidate pairs, whatever the number of
    polygons they touch: each (point, polygon) pair from the tree expands to
    the polygon's rings, each (pair, ring) to the edges of the y-band that
    holds the point, and the pair's crossing count's parity says inside.
    Overlapping polygons resolve to the lowest admin_id —
    a deterministic tie-break (reference analog: deepest-config tie-break,
    pkg/parser/detection/detector.go:213-230).
    """
    tree, bands, ro, ids = _build(payload, fp)
    out = np.full(len(lons), -1, dtype=np.int64)
    lons = np.asarray(lons, np.float64)
    lats = np.asarray(lats, np.float64)
    pi, ii = tree.query_points(lons, lats)
    # every (pair, ring), outer ring and holes; even-odd over all crossings
    pair, ring = expand_ranges(ro[ii], ro[ii + 1] - ro[ii])
    pts = pi[pair]
    crossed = pair[bands.crossings(lons[pts], lats[pts], ring)]
    inside = (np.bincount(crossed, minlength=len(pi)) & 1).astype(bool)
    hit_pts = pi[inside]
    lowest = np.full(len(lons), np.iinfo(np.int64).max)
    np.minimum.at(lowest, hit_pts, ids[ii[inside]])
    out[hit_pts] = lowest[hit_pts]
    return out


def pip_join(
    df,
    polygons: pd.DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
):
    """Append ``admin_id`` (long, NULL if outside every polygon) to ``df``.

    ``polygons``: pandas DataFrame with columns (admin_id, rings) — collected
    on the driver (small side), packed by ``polygon_payload`` and shipped
    inside the UDF closure, which every task deserializes; each executor
    process builds the STRtree once.
    """
    payload, fp = polygon_payload(polygons)
    fields = ", ".join(f.name + " " + f.dataType.simpleString() for f in df.schema.fields)
    out_schema = fields + ", admin_id bigint"

    def run(batches):
        for pdf in batches:
            lats = pdf[lat_col].to_numpy(dtype=np.float64)
            lons = pdf[lon_col].to_numpy(dtype=np.float64)
            aid = match_points(lons, lats, payload, fp=fp)
            out = pdf.copy()
            out["admin_id"] = pd.arrays.IntegerArray(aid, mask=aid == -1)
            yield out

    return df.mapInPandas(run, out_schema)


def sql_pip_parity_join(points_sql: str, edges_sql: str) -> str:
    """Oracle-side plan as one ANSI SQL string (runs on DuckDB and Spark):

    points x edges -> crossing predicate -> odd parity per (point, polygon).
    Quadratic in (points * edges) — fine for fixtures; the Spark operator is
    the scale path.
    """
    from core_spark.functions.geometry import sql_ray_cast_crossing

    crossing = sql_ray_cast_crossing("p.lon", "p.lat", "e.ax", "e.ay", "e.bx", "e.by")
    return f"""
SELECT p.pt_id, e.admin_id
FROM ({points_sql}) p
JOIN ({edges_sql}) AS e(admin_id, ax, ay, bx, by)
  ON {crossing}
GROUP BY p.pt_id, e.admin_id
HAVING (COUNT(*) % 2) = 1
"""
