"""Gap-based sessionization as a window composition.

A session ends when the next event of the same user arrives more than
``gap`` after the previous one. ``sessionize_batch`` composes lag -> gap
flag -> running sum = session id -> groupBy; ``sql_sessionize`` is the same
composition in ANSI SQL, the DuckDB oracle of the ``sessionize`` registry
row in ``__spark_entry__``.

Scale: the shuffle key is user_id (uniform unless a bot user dominates —
the G8 salting note applies if so).
"""

from __future__ import annotations


def sessionize_batch(df, gap_minutes: int = 30, user_col: str = "user_id",
                     ts_col: str = "ts", value_col: str = "value"):
    """Window-based sessionization (deterministic: ties broken by event_id)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col("event_id").asc())
    # exact microsecond arithmetic (unix_timestamp truncates to whole seconds,
    # which can split a 1800.5s gap differently from the fractional oracle);
    # timestampdiff handles TIMESTAMP_NTZ, unix_micros does not
    gap_us = gap_minutes * 60 * 1_000_000
    new_sess = F.when(
        F.col("_prev").isNull()
        | (F.expr(f"timestampdiff(MICROSECOND, _prev, {ts_col})") > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess_id = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_prev", F.lag(F.col(ts_col)).over(w))
        .withColumn("_sess", sess_id)
        .groupBy(user_col, "_sess")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .drop("_sess")
    )


def sql_sessionize(events_table: str, gap_minutes: int = 30) -> str:
    """DuckDB oracle: same window composition in ANSI SQL (microseconds)."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events, SUM(value) AS total_value
FROM (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess
  FROM (
    SELECT *, CASE WHEN prev_ts IS NULL
                     OR epoch_us(ts) - epoch_us(prev_ts) > {gap_us}
              THEN 1 ELSE 0 END AS new_sess
    FROM (
      SELECT user_id, ts, event_id, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM {events_table}
    )
  )
) GROUP BY user_id, sess
"""
