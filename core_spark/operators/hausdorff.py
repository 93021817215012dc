"""Discrete Hausdorff similarity join between trajectories.

H(A,B) = max( max_a min_b d(a,b), max_b min_a d(a,b) ) — the standard
set-to-set distance for trajectory / shape similarity (Huttenlocher et
al. 1993): which user paths, crawl footprints, or mention point-sets
trace the same region. This operator emits every trajectory pair with
H <= threshold.

Exactness: Hausdorff is max-of-min — PURE ORDER STATISTICS, no
summation — so the rangejoin quantization carries it exactly:
d2_micro = FLOOR(dist²·1e6) per point pair is an exact BIGINT, min and
max over BIGINTs are order-free under any evaluation order, and
max-min over d² equals (max-min over d)² by monotonicity. The whole
decision H <= t happens in integers against t²·1e6; the reported
distance is one trailing IEEE /1e6 + correctly-rounded SQRT (the
trajectory.py portability rule: sqrt is IEEE-specified, trig is not).

Blocking is SOUND by the bbox-corner lemma: H(A,B) <= t forces every
corner coordinate of A's bbox within t of B's (A's min-lat point is
within t of SOME B point >= B's min-lat, and symmetrically), so
pairs are generated on the epsilon-grid of the (min_lat, min_lon)
bbox corner at cell size t with 3x3 replication — any pair the
blocking misses has |Δmin| > t and therefore H > t. The candidate
superset is then killed by the exact integer verify.

Plan shape:

1. ONE hash-agg: per-trajectory DISTINCT point arrays (exact duplicate
   points collapse first — set semantics, smaller m·n) + bbox mins,
   guarded by an in-plan raise_error at ``max_points`` (the m·n
   verify must not quietly OOM on a degenerate id);
2. the traj table PINS (self-join — both branches would recompute the
   full aggregation otherwise, the CLAUDE.md pair-generator rule);
3. epsilon-grid self-join, tid_a < tid_b, each pair found in exactly
   ONE cell (B's home cell) — no post-dedup;
4. ONE Arrow-batched numpy verify stage over the candidate pairs: the
   (m, n) squared-distance matrix per pair via broadcasting, floored
   to BIGINT, two directed min-reductions + max, GREATEST. This is
   the repo's documented slow-path exception (textnorm/simplify
   precedent): the same verify as nested ``transform`` HOFs runs
   INTERPRETED in Catalyst (HOF lambdas are never codegen'd) and
   measured 61s at sf0.1 vs ~3s vectorized — and the arithmetic is
   the identical IEEE double sequence ((Δlat)² + (Δlon)²)·1e6 →
   floor → int64, so results are bit-equal to the JVM form (pytested
   against the Python model and the DuckDB twin).

The DuckDB twin is the INDEPENDENT no-blocking plan: point-level
self-join rows, directed distances via two GROUP BY cascades
(MIN per source point, MAX per pair), GREATEST of the directions —
gating both the blocking completeness and the nested HOF.

No reference counterpart (specvital/core has no spatial subsystem);
the metric is the published discrete-Hausdorff formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from core_spark.operators import gridblock as gb
from core_spark.plans.materialize import pin


def hausdorff_join(
    points: DataFrame,
    threshold: float,
    tid_col: str = "tid",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_points: int = 2000,
) -> DataFrame:
    """(tid_a, tid_b, n_a, n_b, hd2_micro, hdist): every trajectory
    pair with discrete Hausdorff distance <= threshold; point sets
    deduplicated, trajectories beyond ``max_points`` raise in-plan."""
    threshold = float(threshold)
    if threshold <= 0:
        raise ValueError(
            f"hausdorff_join: threshold must be > 0, got {threshold}")
    if int(max_points) < 1:
        raise ValueError(
            f"hausdorff_join: max_points must be >= 1, got {max_points}")
    t2m = int(threshold * threshold * 1_000_000)
    guard = (
        f"CASE WHEN size(_pts) > {int(max_points)} THEN"
        f" CAST(raise_error('hausdorff_join: trajectory exceeds"
        f" {int(max_points)} points — simplify or split first') AS INT)"
        " ELSE size(_pts) END"
    )
    trajs = pin(
        points.selectExpr(
            f"{tid_col} AS _tid",
            f"CAST({lat_col} AS DOUBLE) AS lat",
            f"CAST({lon_col} AS DOUBLE) AS lon",
        )
        .where("_tid IS NOT NULL AND lat IS NOT NULL AND lon IS NOT NULL")
        .distinct()
        .groupBy("_tid")
        .agg(F.expr("sort_array(collect_list(struct(lat, lon))) AS _pts"),
             F.expr("MIN(lat)").alias("_minlat"),
             F.expr("MIN(lon)").alias("_minlon"))
        .selectExpr(
            "_tid", "_pts.lat AS _la", "_pts.lon AS _lo", f"{guard} AS _n",
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
        .select("_ta", "_tb", "_na", "_nb", "_laa", "_loa", "_lab", "_lob")
    )
    tid_t = cand.schema["_ta"].dataType
    out_schema = T.StructType([
        T.StructField("tid_a", tid_t),
        T.StructField("tid_b", tid_t),
        T.StructField("n_a", T.LongType()),
        T.StructField("n_b", T.LongType()),
        T.StructField("hd2_micro", T.LongType()),
    ])

    def _verify(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in
                   ("tid_a", "tid_b", "n_a", "n_b", "hd2_micro")}
            for ta, tb, na, nb, laa, loa, lab, lob in zip(
                    pdf["_ta"], pdf["_tb"], pdf["_na"], pdf["_nb"],
                    pdf["_laa"], pdf["_loa"], pdf["_lab"], pdf["_lob"]):
                dla = (np.asarray(laa, dtype=np.float64)[:, None]
                       - np.asarray(lab, dtype=np.float64)[None, :])
                dlo = (np.asarray(loa, dtype=np.float64)[:, None]
                       - np.asarray(lob, dtype=np.float64)[None, :])
                # the exact IEEE sequence of the SQL twin:
                # ((Δlat·Δlat) + (Δlon·Δlon)) · 1e6 → floor → int64
                m = np.floor(
                    (dla * dla + dlo * dlo) * 1000000.0).astype(np.int64)
                h = int(max(m.min(axis=1).max(), m.min(axis=0).max()))
                if h <= t2m:
                    out["tid_a"].append(ta)
                    out["tid_b"].append(tb)
                    out["n_a"].append(int(na))
                    out["n_b"].append(int(nb))
                    out["hd2_micro"].append(h)
            if out["tid_a"]:
                yield pd.DataFrame(out)

    return cand.mapInPandas(_verify, out_schema).selectExpr(
        "tid_a", "tid_b", "n_a", "n_b", "hd2_micro",
        "SQRT(CAST(hd2_micro AS DOUBLE) / 1000000) AS hdist",
    )


def sql_hausdorff_join(
    points_sql: str,
    threshold: float,
    tid_col: str = "tid",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> str:
    """DuckDB twin via the INDEPENDENT no-blocking row plan: all-pairs
    point joins, two directed GROUP BY cascades, GREATEST — gates the
    epsilon-grid blocking's completeness."""
    threshold = float(threshold)
    if threshold <= 0:
        raise ValueError(
            f"hausdorff_join: threshold must be > 0, got {threshold}")
    t2m = int(threshold * threshold * 1_000_000)
    d2m = (
        "CAST(FLOOR(((a.lat - b.lat) * (a.lat - b.lat)"
        " + (a.lon - b.lon) * (a.lon - b.lon)) * 1000000) AS BIGINT)"
    )
    return f"""
        WITH pts AS (
          SELECT DISTINCT {tid_col} AS tid,
                 CAST({lat_col} AS DOUBLE) AS lat,
                 CAST({lon_col} AS DOUBLE) AS lon
          FROM ({points_sql}) src
          WHERE {tid_col} IS NOT NULL AND {lat_col} IS NOT NULL
            AND {lon_col} IS NOT NULL
        ),
        sizes AS (
          SELECT tid, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY tid
        ),
        pp AS (
          SELECT a.tid AS ta, b.tid AS tb,
                 a.lat AS alat, a.lon AS alon,
                 b.lat AS blat, b.lon AS blon,
                 {d2m} AS d2m
          FROM pts a JOIN pts b ON a.tid < b.tid
        ),
        dir_ab AS (
          SELECT ta, tb, MAX(mind) AS h FROM (
            SELECT ta, tb, alat, alon, MIN(d2m) AS mind
            FROM pp GROUP BY ta, tb, alat, alon
          ) GROUP BY ta, tb
        ),
        dir_ba AS (
          SELECT ta, tb, MAX(mind) AS h FROM (
            SELECT ta, tb, blat, blon, MIN(d2m) AS mind
            FROM pp GROUP BY ta, tb, blat, blon
          ) GROUP BY ta, tb
        )
        SELECT x.ta AS tid_a, x.tb AS tid_b,
               sa.n AS n_a, sb.n AS n_b,
               GREATEST(x.h, y.h) AS hd2_micro,
               SQRT(CAST(GREATEST(x.h, y.h) AS DOUBLE) / 1000000) AS hdist
        FROM dir_ab x
        JOIN dir_ba y ON x.ta = y.ta AND x.tb = y.tb
        JOIN sizes sa ON sa.tid = x.ta
        JOIN sizes sb ON sb.tid = x.tb
        WHERE GREATEST(x.h, y.h) <= {t2m}
    """
