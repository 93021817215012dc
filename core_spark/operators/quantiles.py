"""Exact per-group quantiles (discrete, integer-rank definition).

Quantile of order p over a group of n rows = the value at sorted rank
``ceil(n·p)`` (1-based, ties broken by the row key — a TOTAL order, so
both engines agree bit-for-bit). p is carried as an integer fraction
(num, den): the target rank is ``(n·num + den − 1) div den`` in pure
BIGINT arithmetic — true integer division on both engines (Spark ``DIV``,
DuckDB ``//``), no float intermediate at any n — and no
engine-specific percentile built-in (whose interpolation conventions
differ) is involved.

Plan: one per-group window (rank in (value, key) order), one per-group
count aggregate (map-side combine), an equi join on (group, rank ==
target). The window sort is per-group — the usual skew bound (a single
mega-group degrades to its own sorted run). At 10^12 rows the exact
answer is what you pay a sort for; the cheap path is Spark's
``approx_percentile`` t-digest, which is NOT cross-engine
deterministic and therefore deliberately not the oracled operator
(documented trade-off, same reasoning as ann_ivf vs ann_topk).

No reference counterpart (specvital/core has no numeric-analytics
subsystem).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: label -> (numerator, denominator)
DEFAULT_PS: dict[str, tuple[int, int]] = {
    "p50": (1, 2),
    "p90": (9, 10),
    "p99": (99, 100),
}


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    val_col: str,
    key: str = "doc_id",
) -> DataFrame:
    """(group, q, value): the exact ``DEFAULT_PS`` quantiles per group
    (module docstring)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(val_col).asc(), F.col(key).asc()
    )
    ranked = df.select(group_col, val_col, key).withColumn(
        "_rn", F.row_number().over(w)
    )
    targets_rows = F.array(
        *[
            F.struct(
                F.lit(label).alias("q"),
                F.lit(num).cast("long").alias("_num"),
                F.lit(den).cast("long").alias("_den"),
            )
            for label, (num, den) in sorted(DEFAULT_PS.items())
        ]
    )
    targets = (
        df.groupBy(group_col)
        .agg(F.count("*").alias("_n"))
        .select(group_col, "_n", F.explode(targets_rows).alias("_t"))
        .select(
            group_col,
            F.col("_t.q").alias("q"),
            # true integer division (DIV), never a double intermediate:
            # the rank is exact BIGINT arithmetic at any n (ADVICE r4)
            F.expr(
                "(_n * _t._num + _t._den - 1) DIV _t._den"
            ).alias("_rn"),
        )
    )
    return targets.join(ranked, [group_col, "_rn"]).select(
        group_col, "q", F.col(val_col).alias("value")
    )


def sql_exact_group_quantiles(
    inner_sql: str,
    group_col: str,
    val_col: str,
    key: str = "doc_id",
) -> str:
    """DuckDB twin (same integer-rank definition, window formulation)."""
    ps_values = ", ".join(
        f"('{label}', {num}, {den})"
        for label, (num, den) in sorted(DEFAULT_PS.items())
    )
    return f"""
        WITH ranked AS (
          SELECT {group_col}, {val_col},
                 ROW_NUMBER() OVER (
                   PARTITION BY {group_col}
                   ORDER BY {val_col} ASC, {key} ASC) AS _rn
          FROM ({inner_sql})
        ), counts AS (
          SELECT {group_col}, COUNT(*) AS _n FROM ({inner_sql})
          GROUP BY {group_col}
        ), targets AS (
          SELECT {group_col}, p.q AS q,
                 (_n * p.num + p.den - 1) // p.den AS _rn
          FROM counts, (VALUES {ps_values}) AS p(q, num, den)
        )
        SELECT t.{group_col} AS {group_col}, t.q AS q,
               r.{val_col} AS value
        FROM targets t JOIN ranked r
          ON t.{group_col} = r.{group_col} AND t._rn = r._rn
    """
