"""Web-URL curation operators: canonicalize, per-host cap, latest snapshot.

Common-Crawl-style corpora key everything on ``url`` (BASELINE.json
input_hint: url, warc_ts, html, text, lang). Three operators:

- ``canonicalize_url`` — normalize a raw URL to a canonical form + host:
  lowercase host, strip default ports (http:80 / https:443), strip a
  leading ``www.``, drop the fragment, drop tracking query params
  (``utm_*``/``fbclid``/``gclid``), rewrite ``/index.html`` to ``/`` and
  drop a non-root trailing slash. Emitted as STEPWISE columns (CLAUDE.md
  rule — one regex pass per step, never re-inlined), one codegen'd
  projection, no shuffle. Both dialects are generated from the same spec
  (``_canon_steps``) so Spark and DuckDB agree byte-for-byte.
- ``cap_per_host`` — keep at most ``cap`` docs per host in deterministic
  portable-md5 order. Skew-aware two-phase plan: a host-count aggregate
  (map-side partials) finds the rare over-cap "mega-hosts"; only THEIR
  rows go through the per-host ROW_NUMBER sort, everything else passes
  via a broadcast hash anti-join. At web scale the window never sees the
  long tail of small hosts — the sort input is bounded by
  sum(rows of over-cap hosts), not the corpus.
- ``latest_snapshot`` — one row per URL, the most recent crawl
  (max ``warc_ts``, tie-break max key). Implemented as a single
  ``max(struct(ts, key))`` hash aggregate + self-equi-join on the winner
  key, NOT a window: the aggregate gets map-side combine (partial max per
  partition), so re-crawl fan-in never materializes per-URL sort runs.

No reference counterpart (specvital/core ingests file trees, not web
crawls); semantics follow standard CC curation practice (URL-level
dedup, per-host caps as in C4/RefinedWeb-style pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.plans.materialize import pin

# Tracking-param rule: the name is ANCHORED to a [?&] separator (captured
# and re-emitted) so near-miss params — '?xfbclid=1', '?last_utm_source=y'
# — are never mangled as substring matches (ADVICE r4). The separator
# re-emission can leave '?&' / '&&' runs; the '([?&])&+' collapse step
# heals them before the dangling-[?&]$ cleanup.
_TRACK = "([?&])(utm_[A-Za-z0-9]+|fbclid|gclid)=[^&#]*"


def _canon_steps(url: str, dialect: str) -> list[tuple[str, str]]:
    """Shared canonicalization spec: ordered (col, sql_expr) steps.

    Each step references only earlier step columns. ``dialect`` switches
    the few engine differences (DuckDB regexp_replace needs the 'g' flag
    for global replacement; Spark replaces all matches by default).
    """
    if dialect == "spark":
        def rr(e, pat, rep):
            return f"regexp_replace({e}, '{pat}', '{rep}')"

        br = "$1"  # Java-regex group reference in the replacement
    else:
        def rr(e, pat, rep):
            return f"regexp_replace({e}, '{pat}', '{rep}', 'g')"

        br = "\\1"  # RE2 group reference (DuckDB)

    def rx(e, pat):
        return f"regexp_extract({e}, '{pat}', 1)"

    return [
        # fragment off first, then tracking params, then dangling ?/&.
        # Every rule strips ALL repetitions ((www.)+, (/index.html)+$,
        # /+$, [?&]+$) so canonicalization is IDEMPOTENT — re-canonicalizing
        # an already-canonical URL is a no-op (hypothesis-gated in
        # tests/test_weburl_props.py).
        ("_u1", rr(url, "#.*$", "")),
        ("_u2", rr(rr(rr("_u1", _TRACK, br), "([?&])&+", br), "[?&]+$", "")),
        ("_scheme", f"lower({rx('_u2', '^([A-Za-z]+)://')})"),
        ("_hostport", f"lower({rx('_u2', '^[A-Za-z]+://([^/?#]+)')})"),
        (
            "_host0",
            "CASE WHEN _scheme = 'http' THEN "
            + rr("_hostport", ":80$", "")
            + " WHEN _scheme = 'https' THEN "
            + rr("_hostport", ":443$", "")
            + " ELSE _hostport END",
        ),
        ("host", rr("_host0", "^(www[.])+", "")),
        ("_path0", rx("_u2", "^[A-Za-z]+://[^/?#]+([^?#]*)")),
        ("_path1", rr(rr("_path0", "(/index[.]html)+$", "/"), "/+$", "")),
        ("_path2", "CASE WHEN _path1 = '' THEN '/' ELSE _path1 END"),
        ("_query", rx("_u2", "[?]([^#]*)")),
        (
            "url_canon",
            "_scheme || '://' || host || _path2 || "
            "CASE WHEN _query = '' THEN '' ELSE '?' || _query END",
        ),
    ]


def canonicalize_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``host`` and ``url_canon`` columns; pure projection, no shuffle."""
    for name, expr in _canon_steps(url_col, "spark"):
        df = df.withColumn(name, F.expr(expr))
    return df.drop(
        "_u1", "_u2", "_scheme", "_hostport", "_host0",
        "_path0", "_path1", "_path2", "_query",
    )


def sql_canonicalize(table_sql: str, url_col: str = "url",
                     dialect: str = "duckdb") -> str:
    """Dialect SQL: ``table_sql`` + stepwise host/url_canon columns."""
    inner = f"SELECT * FROM {table_sql}"
    for name, expr in _canon_steps(url_col, dialect):
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    return inner


_CAP_SALT = ":hostcap"


def _order_hash(key: str, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"CAST(conv(substr(md5(CAST({key} AS STRING) || '{_CAP_SALT}'),"
            f" 1, 15), 16, 10) AS BIGINT)"
        )
    return (
        f"('0x' || substr(md5(CAST({key} AS VARCHAR) || '{_CAP_SALT}'),"
        f" 1, 15))::BIGINT"
    )


def cap_per_host(
    df: DataFrame,
    cap: int,
    host_col: str = "host",
    key: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` rows per host, in portable md5(key) order.

    Two-phase skew-aware plan (module docstring): the over-cap host list
    is a small aggregate (broadcast both ways); only mega-host rows pay
    the per-host ROW_NUMBER sort. ``plans.materialize.pin`` materializes
    the input so the two branches don't re-evaluate the upstream plan
    twice (CLAUDE.md self-join rule; ``pin`` picks the cluster-safe
    checkpoint from the session's master).
    """
    from pyspark.sql import Window

    src = df.transform(pin)
    over = (
        src.groupBy(host_col)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > cap)
        .select(host_col)
    )
    small = src.join(F.broadcast(over), host_col, "left_anti")
    w = Window.partitionBy(host_col).orderBy(
        F.expr(_order_hash(key, "spark")).asc(), F.col(key).asc()
    )
    big = (
        src.join(F.broadcast(over), host_col, "left_semi")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
    return small.select(*src.columns).unionByName(big.select(*src.columns))


def sql_cap_per_host(
    inner_sql: str,
    cap: int,
    select_cols: str,
    host_col: str = "host",
    key: str = "doc_id",
    dialect: str = "duckdb",
) -> str:
    """Oracle twin: a plain window over the full table (independent plan)."""
    h = _order_hash(key, dialect)
    return f"""
        SELECT {select_cols} FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY {host_col}
                   ORDER BY {h} ASC, {key} ASC) AS _rn
          FROM ({inner_sql})
        ) WHERE _rn <= {cap}
    """


def gate_hosts_by_quality(
    df: DataFrame,
    threshold_pct: int,
    stop_col: str = "stop_n",
    tokens_col: str = "n_tokens",
    host_col: str = "host",
) -> DataFrame:
    """Drop every doc of hosts whose AGGREGATE stopword density is under
    ``threshold_pct`` percent (RefinedWeb-style domain-level gating: a
    host serving mostly gibberish poisons even its plausible-looking
    pages).

    The verdict is the integer cross-multiplication
    ``sum(stop) * 100 < sum(tokens) * pct`` — no float crosses engines.
    The bad-host list is the SMALL side by construction (most hosts pass)
    and is broadcast for an anti join, so good-host docs never shuffle.
    The input is deliberately NOT checkpointed: both branches re-evaluate
    a scan + projection (map-only), which at corpus scale is far cheaper
    than materializing the corpus to pin its lineage — the CLAUDE.md
    checkpoint rule targets SELF-JOINS whose recompute includes a
    shuffle, not aggregate-then-filter gates.
    """
    bad = (
        df.groupBy(host_col)
        .agg(
            F.sum(stop_col).alias("_s"),
            F.sum(tokens_col).alias("_t"),
        )
        .filter(F.col("_s") * 100 < F.col("_t") * threshold_pct)
        .select(host_col)
    )
    return df.join(F.broadcast(bad), host_col, "left_anti")


def sql_gate_hosts_by_quality(
    inner_sql: str,
    threshold_pct: int,
    select_cols: str,
    stop_col: str = "stop_n",
    tokens_col: str = "n_tokens",
    host_col: str = "host",
) -> str:
    """Oracle twin: correlated NOT IN over the aggregate (independent plan)."""
    return f"""
        WITH src AS ({inner_sql})
        SELECT {select_cols} FROM src
        WHERE {host_col} NOT IN (
          SELECT {host_col} FROM src
          GROUP BY {host_col}
          HAVING SUM({stop_col}) * 100 < SUM({tokens_col}) * {threshold_pct}
        )
    """


def latest_snapshot(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    key: str = "doc_id",
) -> DataFrame:
    """One row per URL: the latest crawl (max ts, tie-break max key).

    ``max(struct(ts, key))`` hash-agg (map-side combine) picks the winner
    key per URL; a broadcast-eligible equi-join on (url, key) restores the
    full row — no per-URL sort, no window. The winner table is 1 row per
    distinct URL; when that is still huge Spark's AQE keeps it a shuffle
    hash join on (url, key), which is the right shape.
    """
    winners = (
        df.groupBy(url_col)
        .agg(F.max(F.struct(F.col(ts_col), F.col(key))).alias("_w"))
        .select(url_col, F.col(f"_w.{key}").alias(key))
    )
    return df.join(winners, [url_col, key], "left_semi")


def sql_latest_snapshot(
    inner_sql: str,
    select_cols: str,
    url_col: str = "url",
    ts_col: str = "ts",
    key: str = "doc_id",
) -> str:
    """Oracle twin via window row_number (independent plan)."""
    return f"""
        SELECT {select_cols} FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY {url_col}
                   ORDER BY {ts_col} DESC, {key} DESC) AS _rn
          FROM ({inner_sql})
        ) WHERE _rn = 1
    """
