"""SCD2 crawl-history intervals: per-url validity ranges from snapshots.

A crawl corpus is a stream of (url, warc_ts, content) observations;
downstream consumers (freshness scoring, change-rate features, "as the
page looked at time T" training slices) want the WAREHOUSE shape instead:
one row per (url, content version) with a validity interval
``[valid_from, valid_to)`` and ``valid_to IS NULL`` for the current
version — the classic slowly-changing-dimension type 2 build, over
content fingerprints instead of dimension attributes.

Semantics (pinned by pytest + the generation-rule oracle):

  - snapshots are ordered per url by (warc_ts, fp) — the fp tie-break
    makes equal-timestamp observations deterministic;
  - CONSECUTIVE observations with the same fingerprint collapse into one
    interval (a recrawl that saw the same bytes extends the version, it
    does not open a new one);
  - a fingerprint that REAPPEARS after an intervening change opens a NEW
    version (A -> B -> A is three intervals, not two — history is linear);
  - ``valid_from`` = first observation ts of the run, ``valid_to`` = the
    ts of the next run's first observation (NULL for the last run),
    ``version`` = 1-based BIGINT run ordinal per url.

100-TB shape: everything happens inside ONE per-url partitioning — the
change-detection lag, the run-ordinal sum, the per-run min, and the lead
all share ``hash(url)`` clustering, so Catalyst plans a single Exchange
(plan-asserted in tests). Url keys are uniform (the host-cap operator
upstream removes mega-host skew at the DOCUMENT level; here each url's
row count is its recrawl count, bounded by crawl policy). No window
carries state beyond a url's own snapshots.

No reference counterpart (specvital/core has no temporal subsystem);
SCD2 semantics follow Kimball's published dimensional-modeling
definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def scd2_intervals(
    snapshots: DataFrame,
    key: str = "url",
    ts_col: str = "warc_ts",
    fp_col: str = "fp",
) -> DataFrame:
    """(key, fp, valid_from, valid_to, version) — see module docstring."""
    order = [F.col(ts_col).asc(), F.col(fp_col).asc()]
    w = Window.partitionBy(key).orderBy(*order)

    # run boundary: first row per key, or fingerprint changed vs previous.
    # eqNullSafe == IS NOT DISTINCT FROM: a NULL fp (fetch failed, no
    # content hash) is a real state — NULL-after-A opens a new version
    # and NULL-after-NULL extends it, matching the DuckDB twin's
    # IS DISTINCT FROM exactly (a plain != would silently swallow NULL
    # transitions on the Spark side only).
    # first-row detection is explicit (lag of a literal): an url whose
    # FIRST snapshot has a NULL fp must still open version 1 — a
    # NULL-vs-NULL eqNullSafe would read it as "no change" and number
    # that run 0.
    runs = snapshots.select(key, ts_col, fp_col).withColumn(
        "_chg",
        F.when(F.lag(F.lit(1)).over(w).isNull(), F.lit(1))
        .when(~F.col(fp_col).eqNullSafe(F.lag(fp_col).over(w)), F.lit(1))
        .otherwise(F.lit(0)),
    ).withColumn("version", F.sum("_chg").over(w).cast("long"))

    per_run = runs.groupBy(key, "version").agg(
        F.first(fp_col).alias(fp_col),  # constant within a run
        F.min(ts_col).alias("valid_from"),
    )
    wv = Window.partitionBy(key).orderBy("version")
    return per_run.withColumn(
        "valid_to", F.lead("valid_from").over(wv)
    ).select(key, fp_col, "valid_from", "valid_to", "version")


def sql_scd2_intervals(
    table_sql: str,
    key: str = "url",
    ts_col: str = "warc_ts",
    fp_col: str = "fp",
) -> str:
    """DuckDB twin — same semantics: explicit first-row arm (lag of a
    literal), IS DISTINCT FROM for the change flag (NULL fps are real
    states), NULLS FIRST on BOTH ts and fp in every window order
    (Spark's asc default is NULLS FIRST; DuckDB defaults NULLS LAST —
    a NULL timestamp must segment runs identically on both engines),
    run fingerprint via ANY_VALUE."""
    return f"""
        WITH snap AS (
          SELECT {key}, {ts_col}, {fp_col} FROM {table_sql}
        ), flagged AS (
          SELECT {key}, {ts_col}, {fp_col},
                 CASE WHEN lag(1) OVER (PARTITION BY {key}
                                        ORDER BY {ts_col} NULLS FIRST, {fp_col} NULLS FIRST) IS NULL
                      THEN 1
                      WHEN {fp_col} IS DISTINCT FROM
                           lag({fp_col}) OVER (PARTITION BY {key}
                                               ORDER BY {ts_col} NULLS FIRST, {fp_col} NULLS FIRST)
                      THEN 1 ELSE 0 END AS _chg
          FROM snap
        ), runs AS (
          SELECT {key}, {ts_col}, {fp_col},
                 CAST(SUM(_chg) OVER (PARTITION BY {key}
                                      ORDER BY {ts_col} NULLS FIRST, {fp_col} NULLS FIRST) AS BIGINT)
                   AS version
          FROM flagged
        ), per_run AS (
          SELECT {key}, version, ANY_VALUE({fp_col}) AS {fp_col},
                 MIN({ts_col}) AS valid_from
          FROM runs GROUP BY {key}, version
        )
        SELECT {key}, {fp_col}, valid_from,
               lead(valid_from) OVER (PARTITION BY {key}
                                      ORDER BY version) AS valid_to,
               version
        FROM per_run
    """
