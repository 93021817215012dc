"""G6 — distributed kNN: k-ring cell expansion + exact haversine top-k.

Plan shape (SURVEY.md G6): query points are few (10^2..10^6) next to 10^12
documents, so the *query* side explodes — never the document side:

    queries --(assign cell at res)--> explode(kring(cell, ring))   [tiny]
            --join on cell-->  docs (pre-assigned cell column)     [shuffle
                               on cell id, or bucket-pruned scan]
            --haversine--> row_number() over (partition by query
                           order by dist_m, doc id) <= k

Completeness (SURVEY.md §7 hard part (c)): a k-ring of radius ``ring`` at
resolution ``res`` is guaranteed to contain the full disk of radius
``ring * inradius(res)`` around the query cell's center (the minimal wall of
hexes crossed going outward). So a neighbor result is PROVABLY complete iff

    kth_dist_m  <=  (ring * inradius_deg(res) - circumradius_deg(res)) * m/deg

per query (subtracting the circumradius bounds the query point's offset from
its cell center; the degree->metre factor uses the worst-case latitude of the
disk for the longitude shrink). ``knn_join`` emits ``complete`` per query row
so callers can re-run stragglers at a larger ring — deterministic two-pass,
no guessing. At fixture scale we pick (res, ring) so the bound always holds.

Ties: ordered by (dist_m, doc id) — total order, golden-stable (reference
analog: the deterministic output sort, pkg/parser/scanner.go:558-564).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from core_spark.functions import hexgrid as hx
from core_spark.functions.geometry import EARTH_RADIUS_M, sql_haversine_m
from core_spark.plans.materialize import pin

M_PER_DEG = 111194.92664455873  # spherical earth, metres per degree latitude

# inradius = sqrt(3)/2 * circumradius (pointy-top hex)
_SQRT3_2 = float(np.sqrt(3.0) / 2.0)


def covered_deg(res: int, ring: int) -> float:
    """Degrees of lattice distance fully covered by a k-ring around a query
    point: ``ring`` hex inradii outward minus one circumradius (the query
    point may sit anywhere inside its own cell)."""
    inr = _SQRT3_2 * hx.SIZES[res]
    return max(ring * inr - hx.SIZES[res], 0.0)


def guaranteed_radius_m(res: int, ring: int, query_lat: float = 0.0) -> float:
    """Lower bound (metres) on the disk radius fully covered by a k-ring.

    The hexgrid lives in equirectangular degree space, so one 'degree' of
    lattice distance shrinks by cos(lat) in the east-west direction; the
    worst-case latitude inside the covered disk (|qlat| + its degree extent)
    gives a conservative but per-query bound.
    """
    deg = covered_deg(res, ring)
    if deg <= 0:
        return 0.0
    worst_lat = min(abs(query_lat) + deg, 89.0)
    return deg * M_PER_DEG * float(np.cos(np.radians(worst_lat)))


def sql_guaranteed_radius_m(res: int, ring: int, q_lat: str) -> str:
    """The per-query bound as a SQL expression (same arithmetic)."""
    deg = covered_deg(res, ring)
    if deg <= 0:
        return "0.0"
    return (
        f"({deg!r} * {M_PER_DEG!r} * "
        f"COS(RADIANS(LEAST(ABS({q_lat}) + {deg!r}, 89.0))))"
    )


def sql_seam_safe(res: int, ring: int, q_lon: str) -> str:
    """The hexgrid lattice is planar in lon/lat — NOT periodic across ±180
    (a property shared by any unrolled planar grid; tested in
    test_properties.py). A k-ring near the antimeridian cannot see
    candidates just across the seam, so completeness additionally requires
    the covered disk to stay clear of it. Queries failing this are flagged
    incomplete; exact answers near the seam use brute force (tiny slice of
    the globe: covered_deg/360 of all queries)."""
    deg = covered_deg(res, ring)
    return f"((180.0 - ABS({q_lon})) > {deg!r})"


def knn_join(
    docs,
    queries,
    k: int,
    res: int = 5,
    ring: int = 2,
    doc_id: str = "doc_id",
    query_id: str = "query_id",
    doc_lat: str = "lat",
    doc_lon: str = "lon",
    q_lat: str = "qlat",
    q_lon: str = "qlon",
):
    """k nearest docs per query point.

    ``docs`` must already carry a cell column ``h3_r{res}`` (assign_tiles) —
    at scale this column is the table's bucket/partition key, so the join
    prunes to candidate cells instead of scanning the world.

    Returns (query_id, rank, doc_id, dist_m, complete).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cell_col = f"h3_r{res}"
    offsets = hx.kring_offsets(ring)

    # query side: cell + exploded k-ring (tiny: |q| * (1+3r(r+1)) rows)
    qcells = queries.withColumn("_qcell", F.expr(hx.sql_cell(q_lat, q_lon, res)))
    # build ring cells via the packed-id arithmetic: id + dq*2^29 + dr
    off_arr = F.array(*[F.lit(dq * hx._POW29 + dr) for dq, dr in offsets])
    qexp = qcells.withColumn("_cand", F.explode(off_arr)).withColumn(
        "_cell", F.col("_qcell") + F.col("_cand")
    )

    dist = F.expr(sql_haversine_m(q_lat, q_lon, doc_lat, doc_lon))
    joined = (
        F.broadcast(qexp)
        .join(docs, qexp["_cell"] == docs[cell_col])
        .withColumn("dist_m", dist)
    )

    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(), F.col(doc_id).asc())
    wall = Window.partitionBy(query_id)
    bound = F.expr(sql_guaranteed_radius_m(res, ring, q_lat))
    # complete iff >= k candidates surfaced AND the kth distance is inside
    # the provably-covered disk AND the disk avoids the ±180 lattice seam;
    # callers rerun incomplete queries at larger ring / brute force
    topk = (
        joined.withColumn("rank", F.row_number().over(w))
        .withColumn("_ncand", F.count("*").over(wall))
        .filter(F.col("rank") <= k)
        .withColumn(
            "complete",
            (F.col("_ncand") >= F.lit(k))
            & (F.max("dist_m").over(wall) <= bound)
            & F.expr(sql_seam_safe(res, ring, q_lon)),
        )
        .select(query_id, "rank", doc_id, "dist_m", "complete")
    )
    return topk


def knn_bruteforce(
    docs,
    queries,
    k: int,
    doc_id: str = "doc_id",
    query_id: str = "query_id",
    doc_lat: str = "lat",
    doc_lon: str = "lon",
    q_lat: str = "qlat",
    q_lon: str = "qlon",
):
    """Exact kNN by broadcast cross-join + window top-k. O(|q|*|d|) — only
    for small query sets (the adaptive fallback's straggler remainder).
    Always ``complete`` by construction (seam- and sparsity-immune)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    dist = F.expr(sql_haversine_m(q_lat, q_lon, doc_lat, doc_lon))
    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(), F.col(doc_id).asc())
    return (
        F.broadcast(queries)
        .crossJoin(docs)
        .withColumn("dist_m", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("complete", F.lit(True))
        .select(query_id, "rank", doc_id, "dist_m", "complete")
    )


def knn_adaptive(
    docs,
    queries,
    k: int,
    res: int = 5,
    ring: int = 2,
    max_rounds: int = 2,
    **kw,
):
    """Exact kNN: run knn_join, re-run provably-incomplete queries with a
    doubled ring, and finish the stragglers with a distributed brute-force
    pass — so every returned row is ``complete``.

    Fully distributed: the per-round remainder is a left-anti join against
    the completed query ids — no driver collect()/isin round-trip (that
    pattern breaks at the 10^6-query design point: a driver bottleneck plus
    a giant in-list filter). The 'complete' flag is uniform per query, so
    filtering it keeps whole queries, never partial top-k lists.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    query_id = kw.get("query_id", "query_id")
    remaining = queries
    parts = []
    r = ring
    for _ in range(max_rounds):
        # eager checkpoint: the ring pass output is tiny (<= k rows per
        # query) but its plan carries the full hexgrid expression tree —
        # materializing it once means the output branch, the remainder
        # anti-join, and the brute-force fallback all reuse the result
        # instead of re-planning and re-executing the ring join per branch
        topk = pin(knn_join(docs, remaining, k, res=res, ring=r, **kw))
        done = topk.filter(F.col("complete"))
        parts.append(done)
        # distributed remainder: queries with no complete result this round
        # (covers zero-candidate queries, which never appear in topk at all)
        done_ids = done.select(query_id).distinct()
        remaining = remaining.join(done_ids, on=query_id, how="left_anti")
        r *= 2
    # The remainder is tiny by construction (stragglers of the ring
    # passes), so materialize it once and gate the brute-force stage on
    # it being non-empty: when every query completed in the ring pass,
    # nothing may schedule a full docs scan (at 10^12 docs an un-elided
    # empty-broadcast crossJoin is a full-table scan per kNN call, and
    # AQE's empty-relation propagation is not guaranteed for a noop
    # sink). The isEmpty() is a driver check on already-materialized
    # local data — not a collect() of a data path.
    remaining = pin(remaining)
    if not remaining.isEmpty():
        parts.append(
            knn_bruteforce(
                docs,
                remaining,
                k,
                doc_id=kw.get("doc_id", "doc_id"),
                query_id=query_id,
                doc_lat=kw.get("doc_lat", "lat"),
                doc_lon=kw.get("doc_lon", "lon"),
                q_lat=kw.get("q_lat", "qlat"),
                q_lon=kw.get("q_lon", "qlon"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def knn_bruteforce_pandas(
    docs: pd.DataFrame,
    queries: pd.DataFrame,
    k: int,
    doc_lat: str = "lat",
    doc_lon: str = "lon",
) -> pd.DataFrame:
    """Driver-side exact kNN for goldens (O(|q|*|d|), fixtures only)."""
    from core_spark.functions.geometry import haversine_m

    rows = []
    dlat = docs[doc_lat].to_numpy(dtype=np.float64)
    dlon = docs[doc_lon].to_numpy(dtype=np.float64)
    dids = docs["doc_id"].to_numpy()
    for q in queries.itertuples():
        d = haversine_m(q.qlat, q.qlon, dlat, dlon)
        order = np.lexsort((dids, d))[:k]
        for rank, j in enumerate(order, 1):
            rows.append((q.query_id, rank, int(dids[j]), float(d[j])))
    return pd.DataFrame(rows, columns=["query_id", "rank", "doc_id", "dist_m"])


def sql_knn(points_sql: str, docs_table: str, k: int) -> str:
    """Oracle: brute-force kNN as one ANSI SQL string (DuckDB + Spark).

    Expects ``points_sql`` to yield (query_id, qlat, qlon) and ``docs_table``
    to yield (doc_id, lat, lon).
    """
    dist = sql_haversine_m("q.qlat", "q.qlon", "d.lat", "d.lon")
    return f"""
SELECT query_id, rank, doc_id, dist_m FROM (
  SELECT q.query_id, d.doc_id, {dist} AS dist_m,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY {dist} ASC, d.doc_id ASC) AS rank
  FROM ({points_sql}) q CROSS JOIN {docs_table} d
) WHERE rank <= {k}
"""
