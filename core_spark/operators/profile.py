"""One-pass column profiling — the data-quality audit before any load.

Every ingestion pipeline's first question about a new table: per
column, how many rows, how many NULLs, how many distinct values, and
what range? This is the deequ/profiler shape expressed as ONE Spark
aggregation pass: the caller names each column together with a
BIGINT-valued derivation (LENGTH for strings, FLOOR(x*100) cents for
doubles, the raw value for integers), and the profiler emits one row
per column with exact counts.

Scale shape: a single .agg() carrying 5 expressions per column — one
scan, map-side partials, a 1-row result exploded JVM-side into the
per-column long layout (range+explode, the bm25 literal-table
pattern; never createDataFrame on a query path). The COUNT(DISTINCT)
expressions make Spark plan an Expand (one replicated stream per
distinct aggregate); the counts are exact, so the DuckDB twin gates
them bit for bit.

All outputs BIGINT; min/max of the DERIVED value (the derivation is
part of the profile's contract — range of cents, range of lengths).
NULL derivations count as NULL (n_null counts source-column NULLs
via the derivation's own NULL propagation).

No reference counterpart (specvital/core profiles no tables); the
shape is the standard data-quality summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def profile_table(
    df: DataFrame,
    cols: list[tuple[str, str]],
) -> DataFrame:
    """Rows (column, n_nonnull, n_null, n_distinct, min_v, max_v) —
    one per entry of ``cols`` = [(name, bigint_expr), ...], computed
    in ONE aggregation pass over ``df``."""
    if not cols:
        raise ValueError("profile_table needs at least one column spec")
    aggs = []
    for i in range(len(cols)):
        aggs += [
            F.expr(f"CAST(COUNT(_c{i}) AS BIGINT)").alias(f"nn{i}"),
            F.expr(
                f"CAST(COUNT(*) - COUNT(_c{i}) AS BIGINT)"
            ).alias(f"nu{i}"),
            F.expr(f"CAST(COUNT(DISTINCT _c{i}) AS BIGINT)").alias(f"nd{i}"),
            F.expr(f"CAST(MIN(_c{i}) AS BIGINT)").alias(f"mn{i}"),
            F.expr(f"CAST(MAX(_c{i}) AS BIGINT)").alias(f"mx{i}"),
        ]
    one = df.selectExpr(
        *[f"CAST({expr} AS BIGINT) AS _c{i}"
          for i, (_, expr) in enumerate(cols)]
    ).agg(*aggs)
    # explode the 1-row wide result into per-column rows JVM-side
    structs = ", ".join(
        f"named_struct('column', '{name}', 'n_nonnull', nn{i},"
        f" 'n_null', nu{i}, 'n_distinct', nd{i},"
        f" 'min_v', mn{i}, 'max_v', mx{i})"
        for i, (name, _) in enumerate(cols)
    )
    return (
        one.selectExpr(f"explode(array({structs})) AS r")
        .select("r.*")
    )


def sql_profile_table(
    table_sql: str, cols: list[tuple[str, str]]
) -> str:
    """DuckDB twin: the INDEPENDENT per-column UNION ALL plan (one
    subquery per column, no wide row, no explode)."""
    parts = []
    for name, expr in cols:
        parts.append(f"""
            SELECT '{name}' AS "column",
                   CAST(COUNT(v) AS BIGINT) AS n_nonnull,
                   CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
                   CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
                   CAST(MIN(v) AS BIGINT) AS min_v,
                   CAST(MAX(v) AS BIGINT) AS max_v
            FROM (SELECT CAST({expr} AS BIGINT) AS v
                  FROM ({table_sql}) t) s
        """)
        # DuckDB '//' vs Spark 'DIV' is the caller's concern in expr
    return " UNION ALL ".join(parts)
