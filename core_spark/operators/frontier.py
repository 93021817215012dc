"""Crawl-frontier scheduling: politeness-correct fetch slots, no queues.

A crawler must not hit one host faster than its politeness delay, while
keeping thousands of workers busy across hosts. Frontier systems
(Heritrix's host queues, Nutch's generate step) do this with mutable
per-host queues; at 10^10-URL scale the same schedule is a PLAN, not a
data structure — two deterministic columns per candidate URL:

  worker     = md5(host) % n_workers       (host affinity: every URL of
               a host lands on ONE worker, so per-host politeness needs
               zero cross-worker coordination — the same key-affinity
               trick as the per-host cap and robots gate)
  fetch_slot = (per-host rank - 1) * delay_s
               rank orders a host's URLs by (priority DESC, md5(url),
               url) — deterministic, resumable, and skew-stable

A worker that fetches its slot-t URLs no earlier than t seconds after
queue start is polite BY CONSTRUCTION: two URLs of the same host are at
least delay_s apart in slot, and no other worker ever holds that host.
Cross-host slots may collide on a worker — that's intentional (the
worker interleaves hosts; politeness is per-host, throughput is
per-worker).

Plan shape: ONE shuffle (the per-host window). The window partition is
the host's OWN queue — politeness serializes a host's fetches no matter
how you compute the schedule, so a mega-host's deep partition is the
inherent crawl-time lower bound surfacing at plan time, not an
accident; the per-host cap operator (weburl.cap_per_host) upstream is
the mitigation.

No reference counterpart (specvital/core has no crawl subsystem).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_SALT = ":frontier"


def _worker(host_col: str, n_workers: int, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"CAST(conv(substr(md5({host_col} || '{_SALT}'), 1, 15), 16, 10)"
            f" AS BIGINT) % {n_workers}"
        )
    return (
        f"('0x' || substr(md5({host_col} || '{_SALT}'), 1, 15))::BIGINT"
        f" % {n_workers}"
    )


def schedule_frontier(
    df: DataFrame,
    n_workers: int,
    delay_s: int,
    host_col: str = "host",
    url_col: str = "url",
    priority_sql: str = "0",
) -> DataFrame:
    """Add (worker, fetch_ix, fetch_slot) to every candidate URL.

    ``fetch_ix`` is the 0-based per-host fetch order (priority DESC,
    then portable md5(url), then url); ``fetch_slot`` = fetch_ix ×
    delay seconds — the earliest second the fetch may start.
    """
    if n_workers <= 0 or delay_s <= 0:
        raise ValueError("frontier: n_workers and delay_s must be positive")
    w = Window.partitionBy(host_col).orderBy(
        F.expr(f"({priority_sql})").desc(),
        F.expr(f"md5({url_col})").asc(),
        F.col(url_col).asc(),
    )
    return (
        df.withColumn("worker",
                      F.expr(_worker(host_col, n_workers, "spark")))
        .withColumn("fetch_ix",
                    (F.row_number().over(w) - 1).cast("long"))
        .withColumn("fetch_slot",
                    F.expr(f"CAST(fetch_ix * {delay_s} AS BIGINT)"))
    )


def sql_schedule_frontier(
    table_sql: str,
    n_workers: int,
    delay_s: int,
    host_col: str = "host",
    url_col: str = "url",
    priority_sql: str = "0",
    cols: str = "*",
) -> str:
    """DuckDB twin — same worker hash, same window order."""
    if n_workers <= 0 or delay_s <= 0:
        raise ValueError("frontier: n_workers and delay_s must be positive")
    return f"""
        SELECT {cols},
               {_worker(host_col, n_workers, "duckdb")} AS worker,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY {host_col}
                 ORDER BY ({priority_sql}) DESC, md5({url_col}), {url_col}
               ) - 1 AS BIGINT) AS fetch_ix,
               CAST((ROW_NUMBER() OVER (
                 PARTITION BY {host_col}
                 ORDER BY ({priority_sql}) DESC, md5({url_col}), {url_col}
               ) - 1) * {delay_s} AS BIGINT) AS fetch_slot
        FROM {table_sql}
    """
