"""Exponentially decayed counters — exact, because the base is 2.

Recency-weighted counts ("how hot is this key NOW") are the backbone
of trending detection and crawl re-prioritization. The textbook form
Σ x_t · 2^(-(T-t)/h) is float and order-dependent; this variant keeps
the repo's exactness bar by making every weight a POWER OF TWO:

    age_steps = (T - t) DIV h          (staircase half-life: the count
                                        halves every h time units)
    weight    = 2^(S - min(age_steps, S))   — an exact BIGINT

so decayed_scaled = Σ x_t · weight is an EXACT BIGINT sum (order-free
under any partitioning), and decayed = decayed_scaled / 2^S is ONE
trailing IEEE division. Contributions older than S half-lives round
to weight 1·x (not 0): they retain the floor weight 2^0 — with S=40
that is a 10^-12 relative influence, and keeping it avoids a silent
drop cliff; callers filter ancient history upstream if they want a
hard horizon.

The staircase (DIV, not /) is the documented exactness trade: within
a half-life window the weight is constant, stepping by exactly 1/2
at each boundary. True smooth exponential decay is the float
alternative when bit-reproducibility doesn't matter.

Mergeable: at fixed T the state is a plain SUM — partition- and
shard-invariant by construction. Advancing the horizon T → T+h is
decayed_scaled DIV 2 per key, exact while the scale headroom lasts.

Scale shape: one codegen'd weight projection + ONE uniform-key
hash-agg; the horizon T is the data's max t, a 1-row broadcast.

Overflow envelope: x·2^S needs Σx per key < 2^(63-S); S=40 leaves
8M mass per key per half-life window — raise/lower S accordingly.

No reference counterpart; the shape is the classical time-decayed
counter (e.g. Cormode et al. forward-decay) restricted to base-2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.plans.materialize import pin

_S = 40  # scale exponent: weight of "now" = 2^40


def decayed_counts(
    series: DataFrame,
    halflife: int,
    key_col: str = "k",
    t_col: str = "t",
    x_col: str = "x",
) -> DataFrame:
    """Rows (k, decayed_scaled, decayed, n): per-key exact power-of-
    two decayed counts at the data's max t (attached as a 1-row
    broadcast). NULL t/x dropped on ingest."""
    if halflife < 1:
        raise ValueError("halflife must be >= 1")
    v = series.where(
        F.col(t_col).isNotNull() & F.col(x_col).isNotNull()
    ).selectExpr(
        f"{key_col} AS k", f"CAST({t_col} AS BIGINT) AS t",
        f"CAST({x_col} AS BIGINT) AS x",
    )
    # pinned: the max-t agg AND the weight join both consume the
    # series — which may itself be a derived agg, not a raw scan
    v = pin(v)
    hz = v.agg(F.expr("CAST(MAX(t) AS BIGINT)").alias("hz"))
    # weights via exact bit shifts — pow() sits outside the portable
    # op set; 1 << k is the same BIGINT on any engine
    weighted = v.join(F.broadcast(hz)).selectExpr(
        "k",
        f"x * shiftleft(CAST(1 AS BIGINT),"
        f" CAST({_S} - LEAST((hz - t) DIV {halflife}, {_S}) AS INT))"
        " AS wx",
    )
    return (
        weighted.groupBy("k")
        .agg(
            F.expr("CAST(SUM(wx) AS BIGINT)").alias("decayed_scaled"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
        )
        .selectExpr(
            "k", "decayed_scaled",
            f"CAST(decayed_scaled AS DOUBLE) / {float(1 << _S)}"
            " AS decayed",
            "n",
        )
    )


def sql_decayed_counts(
    series_sql: str,
    halflife: int,
    key_col: str = "k",
    t_col: str = "t",
    x_col: str = "x",
) -> str:
    """DuckDB twin: same staircase weights (// for DIV); the horizon
    via a scalar subquery."""
    hz = "(SELECT CAST(MAX(t) AS BIGINT) FROM v)"
    return f"""
        WITH v AS (
            SELECT {key_col} AS k, CAST({t_col} AS BIGINT) AS t,
                   CAST({x_col} AS BIGINT) AS x
            FROM ({series_sql}) s
            WHERE {t_col} IS NOT NULL AND {x_col} IS NOT NULL
        ),
        w AS (
            SELECT k,
                   x * (CAST(1 AS BIGINT) <<
                        CAST({_S} - LEAST((({hz}) - t)
                            // {halflife}, {_S}) AS INTEGER)) AS wx
            FROM v
        )
        SELECT k, CAST(SUM(wx) AS BIGINT) AS decayed_scaled,
               CAST(SUM(wx) AS DOUBLE) / {float(1 << _S)} AS decayed,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM w GROUP BY k
    """
