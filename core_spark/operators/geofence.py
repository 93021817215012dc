"""Geofence transition events — enter/exit/switch over ping streams.

The fleet-tracking primitive on top of the spatial family: given a
directory of fences and a per-entity ping stream, WHEN did each
entity enter, leave, or switch fences? stay_points finds dwells
anywhere; this anchors state changes to NAMED regions — the alerting
shape (asset left the depot, crawler van entered zone 7).

Fences here are axis-aligned rectangles ([min, max] INCLUSIVE on
both edges): containment is pure JVM comparison, so the whole
operator is shuffle-light and exactly twin-able. Polygon fences
compose by swapping the assignment stage for pip_join's admin_id
(same downstream transition logic — documented seam, the
spatial_pipeline pattern); overlapping fences resolve to the LOWEST
fence id, pip.match_points' lowest-id tie-break.

Transition semantics (single row per boundary crossing, never two):
each ping's fence state is compared to the entity's PREVIOUS ping
(LAG over (t, id) — the standing tie discipline); a row is emitted
iff the state changed, labeled 'enter' (outside → fence), 'exit'
(fence → outside), or 'switch' (fence A → fence B, one row carrying
both ids — emitting exit+enter pairs would double rows and force an
ordering convention between them). An entity's FIRST ping inside a
fence is an 'enter' (the LAG default is the outside sentinel);
first ping outside emits nothing.

Scale shape: fence assignment = one BROADCAST join of the ping
stream against the fence directory (fences are bounded; a
continental fence set routes through rectjoin's grid instead —
documented); transitions = ONE entity-keyed window pass. Exactness:
ids/verdicts BIGINT/strings; coordinates only ever compared, never
arithmetic'd.

No reference counterpart; the shape is the standard geofencing
event stream, evaluated in batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_OUT = -1  # the "outside every fence" sentinel


def geofence_events(
    pings: DataFrame,
    fences: DataFrame,
    user_col: str = "user",
    t_col: str = "t",
    x_col: str = "x",
    y_col: str = "y",
    id_col: str = "id",
) -> DataFrame:
    """Rows (user, t, id, from_fence, to_fence, event): one row per
    fence-state change per entity; fence ids are BIGINT with -1 as
    the outside sentinel on the from/to columns. ``fences`` carries
    (fence_id, xmin, ymin, xmax, ymax); overlaps resolve to the
    lowest id. NULL coordinates/timestamps dropped on ingest."""
    p = pings.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
        & F.col(t_col).isNotNull()
    ).selectExpr(
        f"{user_col} AS u", f"CAST({t_col} AS BIGINT) AS t",
        f"{id_col} AS id", f"{x_col} AS x", f"{y_col} AS y",
    )
    fz = fences.selectExpr(
        "CAST(fence_id AS BIGINT) AS fence_id",
        "xmin", "ymin", "xmax", "ymax",
    )
    assigned = (
        p.join(
            F.broadcast(fz),
            (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
            & (F.col("y") >= F.col("ymin"))
            & (F.col("y") <= F.col("ymax")),
            "left",
        )
        .groupBy("u", "t", "id")
        .agg(F.expr(
            f"CAST(COALESCE(MIN(fence_id), {_OUT}) AS BIGINT)"
        ).alias("fc"))
    )
    w = Window.partitionBy("u").orderBy("t", "id")
    return (
        assigned.select(
            "u", "t", "id", "fc",
            F.expr(f"LAG(fc, 1, {_OUT}) OVER"
                   " (PARTITION BY u ORDER BY t, id)").alias("pc"),
        )
        .where("fc <> pc")
        .selectExpr(
            "u AS user", "t", "id",
            "pc AS from_fence", "fc AS to_fence",
            f"CASE WHEN pc = {_OUT} THEN 'enter'"
            f" WHEN fc = {_OUT} THEN 'exit'"
            " ELSE 'switch' END AS event",
        )
    )


def sql_geofence_events(
    pings_sql: str,
    fences_sql: str,
    user_col: str = "user",
    t_col: str = "t",
    x_col: str = "x",
    y_col: str = "y",
    id_col: str = "id",
) -> str:
    """DuckDB twin: same assignment via a scalar MIN subquery-free
    LEFT JOIN + group, same LAG transition tail."""
    return f"""
        WITH gf_p AS (
            SELECT {user_col} AS u, CAST({t_col} AS BIGINT) AS t,
                   {id_col} AS id, {x_col} AS x, {y_col} AS y
            FROM ({pings_sql}) s
            WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
              AND {t_col} IS NOT NULL
        ),
        gf_f AS (
            SELECT CAST(fence_id AS BIGINT) AS fence_id,
                   xmin, ymin, xmax, ymax
            FROM ({fences_sql}) f
        ),
        gf_a AS (
            SELECT u, t, id,
                   CAST(COALESCE(MIN(fence_id), {_OUT}) AS BIGINT)
                       AS fc
            FROM gf_p LEFT JOIN gf_f
                ON x >= xmin AND x <= xmax
               AND y >= ymin AND y <= ymax
            GROUP BY u, t, id
        ),
        gf_l AS (
            SELECT u, t, id, fc,
                   LAG(fc, 1, {_OUT}) OVER (
                       PARTITION BY u ORDER BY t, id) AS pc
            FROM gf_a
        )
        SELECT u AS "user", t, id,
               pc AS from_fence, fc AS to_fence,
               CASE WHEN pc = {_OUT} THEN 'enter'
                    WHEN fc = {_OUT} THEN 'exit'
                    ELSE 'switch' END AS event
        FROM gf_l WHERE fc <> pc
    """
