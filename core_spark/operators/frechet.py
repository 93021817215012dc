"""Discrete Fréchet similarity join — ORDER-AWARE trajectory matching.

Hausdorff (hausdorff.py) treats trajectories as point SETS: a path
walked A→B matches the same path walked B→A, and a commuter's morning
and evening runs collapse. The Fréchet distance is the order-aware
refinement — the classic dog-leash metric (Eiter & Mannila 1994):

    dF(A,B) = min over monotone traversals of max pointwise distance

computed by the DP  ca[i,j] = max(d(a_i, b_j),
                       min(ca[i-1,j], ca[i,j-1], ca[i-1,j-1])).

It is the right metric for map-matched route equivalence, convoy
detection, and replayed-crawl-path identification, where DIRECTION
is the signal. dF >= Hausdorff always.

Exactness: like Hausdorff, the statistic is PURE ORDER STATISTICS
(max/min over pairwise distances — no summation), so the d2_micro =
FLOOR(dist²·1e6) BIGINT quantization carries the entire DP exactly;
fdist is one trailing /1e6 + correctly-rounded SQRT.

Blocking is SOUND by inheritance: dF <= t  ⇒  Hausdorff <= t  ⇒ the
bbox-corner lemma (hausdorff.py) applies unchanged — epsilon-grid on
the (min_lat, min_lon) bbox corner at cell size t, 3x3 replication,
pinned self-join, each pair in exactly one cell.

Ordering: points are sequenced per trajectory by (t, id) — sequence
position is part of the METRIC here, so unlike Hausdorff there is NO
distinct() (repeated visits are real) and the collect is
sort_array over (t, id, lat, lon) structs, deterministic under any
partitioning.

Verify cost: the DP is inherently sequential in (i, j) — O(m·n)
scalar steps per pair in the Arrow stage (the distance matrix itself
is one numpy broadcast). The fixture samples pings to keep m ~ 33;
production budgets reduce m via polygon_simplify / stay_points
compaction first (documented envelope: pairs · m · n Python steps).

Oracle strategy (split gate): the DECISION — which pairs have
dF <= t — is oracled via the INDEPENDENT free-space reachability
plan in DuckDB (free cells = point pairs with d <= t from an
UNBLOCKED all-pairs join; a RECURSIVE CTE walks monotone steps
(i+1,j), (i,j+1), (i+1,j+1); a pair qualifies iff (m,n) is
reachable — the standard decision formulation, no DP values), which
gates blocking completeness AND the DP's threshold behavior. The
exact fd2_micro VALUE has no tractable SQL twin; it is pytest-gated
against an independent Python model (test_frechet.py).

No reference counterpart; the metric is the published discrete
Fréchet formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from core_spark.operators import gridblock as gb
from core_spark.plans.materialize import pin


def frechet_join(
    points: DataFrame,
    threshold: float,
    tid_col: str = "tid",
    t_col: str = "t",
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_points: int = 2000,
) -> DataFrame:
    """(tid_a, tid_b, n_a, n_b, fd2_micro, fdist): every trajectory
    pair with discrete Fréchet distance <= threshold; sequences
    ordered by (t, id), trajectories beyond ``max_points`` raise
    in-plan."""
    threshold = float(threshold)
    if threshold <= 0:
        raise ValueError(
            f"frechet_join: threshold must be > 0, got {threshold}")
    if int(max_points) < 1:
        raise ValueError(
            f"frechet_join: max_points must be >= 1, got {max_points}")
    t2m = int(threshold * threshold * 1_000_000)
    guard = (
        f"CASE WHEN size(_seq) > {int(max_points)} THEN"
        f" CAST(raise_error('frechet_join: trajectory exceeds"
        f" {int(max_points)} points — simplify or compact first')"
        " AS INT) ELSE size(_seq) END"
    )
    trajs = pin(
        points.selectExpr(
            f"{tid_col} AS _tid",
            f"CAST({t_col} AS BIGINT) AS _t", f"{id_col} AS _id",
            f"CAST({lat_col} AS DOUBLE) AS lat",
            f"CAST({lon_col} AS DOUBLE) AS lon",
        )
        .where("_tid IS NOT NULL AND _t IS NOT NULL"
               " AND lat IS NOT NULL AND lon IS NOT NULL")
        .groupBy("_tid")
        .agg(
            F.expr(
                "sort_array(collect_list(struct(_t, _id, lat, lon)))"
                " AS _seq"),
            F.expr("MIN(lat)").alias("_minlat"),
            F.expr("MIN(lon)").alias("_minlon"),
        )
        .selectExpr(
            "_tid", "_seq.lat AS _la", "_seq.lon AS _lo",
            f"{guard} AS _n",
            f"{gb.cell('_minlat', threshold)} AS _cx",
            f"{gb.cell('_minlon', threshold)} AS _cy",
        ))
    a = gb.neighbours(
        trajs, ["_tid AS _ta", "_la AS _laa", "_lo AS _loa", "_n AS _na"],
        {"_cx": "_cx", "_cy": "_cy"},
    )
    b = trajs.selectExpr(
        "_tid AS _tb", "_la AS _lab", "_lo AS _lob", "_n AS _nb",
        "_cx", "_cy")
    cand = (
        a.join(b, ["_cx", "_cy"])
        .where("_ta < _tb")
        .select("_ta", "_tb", "_na", "_nb",
                "_laa", "_loa", "_lab", "_lob")
    )
    tid_t = cand.schema["_ta"].dataType
    out_schema = T.StructType([
        T.StructField("tid_a", tid_t),
        T.StructField("tid_b", tid_t),
        T.StructField("n_a", T.LongType()),
        T.StructField("n_b", T.LongType()),
        T.StructField("fd2_micro", T.LongType()),
    ])

    def _verify(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in
                   ("tid_a", "tid_b", "n_a", "n_b", "fd2_micro")}
            for ta, tb, na, nb, laa, loa, lab, lob in zip(
                    pdf["_ta"], pdf["_tb"], pdf["_na"], pdf["_nb"],
                    pdf["_laa"], pdf["_loa"], pdf["_lab"], pdf["_lob"]):
                A_la = np.asarray(laa, dtype=np.float64)
                A_lo = np.asarray(loa, dtype=np.float64)
                B_la = np.asarray(lab, dtype=np.float64)
                B_lo = np.asarray(lob, dtype=np.float64)
                dla = A_la[:, None] - B_la[None, :]
                dlo = A_lo[:, None] - B_lo[None, :]
                # identical IEEE sequence to the hausdorff verify and
                # the Python model: ((Δ·Δ)+(Δ·Δ))·1e6 → floor → int64
                d = np.floor(
                    (dla * dla + dlo * dlo) * 1000000.0
                ).astype(np.int64)
                # cheap lower bound first: dF >= Hausdorff — most
                # non-pairs die without paying the sequential DP
                hlb = int(max(d.min(axis=1).max(), d.min(axis=0).max()))
                if hlb > t2m:
                    continue
                m, n = d.shape
                prev = np.empty(n, dtype=np.int64)
                prev[0] = d[0, 0]
                for j in range(1, n):
                    prev[j] = max(prev[j - 1], d[0, j])
                for i in range(1, m):
                    cur = np.empty(n, dtype=np.int64)
                    cur[0] = max(prev[0], d[i, 0])
                    row = d[i]
                    # s[j] = min(prev[j], prev[j-1]) vectorized; the
                    # cur[j-1] term forces the scalar scan
                    s = np.minimum(prev[1:], prev[:-1])
                    for j in range(1, n):
                        cur[j] = max(row[j], min(s[j - 1], cur[j - 1]))
                    prev = cur
                fd = int(prev[n - 1])
                if fd <= t2m:
                    out["tid_a"].append(ta)
                    out["tid_b"].append(tb)
                    out["n_a"].append(int(na))
                    out["n_b"].append(int(nb))
                    out["fd2_micro"].append(fd)
            if out["tid_a"]:
                yield pd.DataFrame(out)

    return cand.mapInPandas(_verify, out_schema).selectExpr(
        "tid_a", "tid_b", "n_a", "n_b", "fd2_micro",
        "SQRT(CAST(fd2_micro AS DOUBLE) / 1000000) AS fdist",
    )


def sql_frechet_decision(
    points_sql: str,
    threshold: float,
    tid_col: str = "tid",
    t_col: str = "t",
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> str:
    """DuckDB DECISION twin: free-space reachability via a RECURSIVE
    CTE over an UNBLOCKED all-pairs free-cell table — the independent
    formulation (no DP values, no blocking), yielding (tid_a, tid_b,
    n_a, n_b) for every pair with dF <= threshold."""
    threshold = float(threshold)
    if threshold <= 0:
        raise ValueError(
            f"frechet_join: threshold must be > 0, got {threshold}")
    t2m = int(threshold * threshold * 1_000_000)
    return f"""
        WITH seq AS (
          SELECT {tid_col} AS tid,
                 CAST({lat_col} AS DOUBLE) AS lat,
                 CAST({lon_col} AS DOUBLE) AS lon,
                 ROW_NUMBER() OVER (PARTITION BY {tid_col}
                     ORDER BY CAST({t_col} AS BIGINT), {id_col}) AS i
          FROM ({points_sql}) src
          WHERE {tid_col} IS NOT NULL AND {t_col} IS NOT NULL
            AND {lat_col} IS NOT NULL AND {lon_col} IS NOT NULL
        ),
        sizes AS (
          SELECT tid, CAST(COUNT(*) AS BIGINT) AS n
          FROM seq GROUP BY tid
        ),
        free AS (
          SELECT a.tid AS ta, b.tid AS tb, a.i AS i, b.i AS j
          FROM seq a JOIN seq b ON a.tid < b.tid
          WHERE CAST(FLOOR(((a.lat - b.lat) * (a.lat - b.lat)
                + (a.lon - b.lon) * (a.lon - b.lon)) * 1000000)
                AS BIGINT) <= {t2m}
        ),
        reach AS (
          WITH RECURSIVE r(ta, tb, i, j) AS (
            SELECT ta, tb, i, j FROM free WHERE i = 1 AND j = 1
            UNION
            SELECT f.ta, f.tb, f.i, f.j
            FROM r JOIN free f ON f.ta = r.ta AND f.tb = r.tb
              AND ((f.i = r.i + 1 AND f.j = r.j)
                OR (f.i = r.i AND f.j = r.j + 1)
                OR (f.i = r.i + 1 AND f.j = r.j + 1))
          )
          SELECT * FROM r
        )
        SELECT r.ta AS tid_a, r.tb AS tid_b, sa.n AS n_a, sb.n AS n_b
        FROM reach r
        JOIN sizes sa ON sa.tid = r.ta
        JOIN sizes sb ON sb.tid = r.tb
        WHERE r.i = sa.n AND r.j = sb.n
    """
