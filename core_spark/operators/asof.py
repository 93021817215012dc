"""As-of join (attach the most recent right row strictly before each left ts).

The temporal join the task brief names as a custom operator Spark lacks
(left row at time t ← latest right row with the same key and ts < t).
A naive SQL formulation is a range self-join
(quadratic in recrawl fan-in); the Spark-native shape is the UNION-WINDOW
plan:

1. tag right rows (_src=0) and left rows (_src=1), union them over a
   shared (key, ts) spine; the right payload rides in ONE non-null struct
   column (so a NULL payload FIELD still matches — last(ignorenulls)
   skips whole-row nulls only);
2. one window per key ordered by (ts, _src): ``last(_snap, ignorenulls)``
   over unbounded-preceding..current carries the latest visible right row
   forward. Right rows sort after left rows at equal ts, so a right row
   is visible only to later left rows (ts < t);
3. keep left rows, unpack the struct.

One shuffle on the key, one in-partition sort — the same cost as any
per-key window, linear in |left| + |right|, no range-join blowup. At
web scale the key (url / user) is high-cardinality so partitions stay
balanced; a single mega-key degrades to that key's sorted run, same as
every windowed operator here.

Precondition: right rows are unique per (key, ts) — otherwise "the"
as-of match is ill-defined in any engine (DuckDB's native ASOF JOIN,
which the oracle uses as an independent implementation, picks
arbitrarily). The fixture satisfies it; the operator asserts nothing and
documents the contract.

specvital/core has no temporal subsystem; the operator exists for the
Common-Crawl input shape (events vs crawl snapshots keyed by url/user).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str,
    payload_cols: list[str],
    prefix: str = "asof_",
) -> DataFrame:
    """Left rows + ``prefix<payload>`` columns from the as-of right match
    (NULL when no right row is strictly earlier). See module docstring for the plan.

    ``_src``/``_snap``/``_match`` are reserved internals and
    ``prefix<payload>`` must not collide with a left column — both are
    validated up front (analysis errors or silently wrong carries
    otherwise — ADVICE r4).
    """
    from pyspark.sql import Window

    reserved = {"_src", "_snap", "_match"}
    clash = reserved.intersection(left.columns) | reserved.intersection(
        right.columns
    )
    if clash:
        raise ValueError(
            f"asof_join reserves column names {sorted(reserved)}; "
            f"rename input columns {sorted(clash)}"
        )
    out_clash = {f"{prefix}{c}" for c in payload_cols}.intersection(
        left.columns
    )
    if out_clash:
        raise ValueError(
            f"asof_join output columns {sorted(out_clash)} collide with "
            f"left columns; pass a different prefix="
        )

    snap = F.struct(*[F.col(c) for c in payload_cols]).alias("_snap")
    r = right.select(
        F.col(key), F.col(ts_col), F.lit(0).alias("_src"), snap
    )
    left_cols = left.columns
    l = left.select(
        "*", F.lit(1).alias("_src"), F.lit(None).cast(r.schema["_snap"].dataType).alias("_snap")
    )
    # align: right side gets NULLs for the extra left columns
    for c in left_cols:
        if c not in (key, ts_col):
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    unioned = l.unionByName(r.select(*l.columns))

    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts_col).asc(), F.col("_src").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "_match", F.last("_snap", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("_src") == 1).select(
        *left_cols,
        *[
            F.col(f"_match.{c}").alias(f"{prefix}{c}")
            for c in payload_cols
        ],
    )
    return out


def sql_asof_join(
    left_sql: str,
    right_sql: str,
    key: str,
    ts_col: str,
    select_cols: str,
) -> str:
    """DuckDB oracle twin using the native ASOF JOIN (independent plan)."""
    return f"""
        SELECT {select_cols}
        FROM ({left_sql}) l
        ASOF LEFT JOIN ({right_sql}) r
        ON l.{key} = r.{key} AND l.{ts_col} > r.{ts_col}
    """
