"""Redirect-chain resolution over a URL redirect graph (pointer doubling).

A crawl's URL directory is full of redirects (http->https, host aliases,
shorteners, moved pages): canonical corpus identity needs every source
URL resolved to its TERMINAL target before dedup/latest-snapshot/link
rollups, or the same page lives under N names. Common Crawl publishes
exactly this shape (redirect records carry a Location target); at
10^10 URLs the redirect table is a distributed FUNCTIONAL GRAPH — each
src has at most one outgoing edge — and chasing chains row-at-a-time is
a driver loop. The distributed answer is pointer doubling (pointer
jumping): each round every pointer jumps over its target's own pointer,
so a chain of length L resolves in ceil(log2(L)) rounds — 4 rounds
cover 16 hops; real redirect chains beyond ~5 are crawler-rejected
anyway (browsers cap near 20).

Per round: ONE equi self-join of the pointer table on a uniform URL key
+ a projection — the pointer table is pinned per round (the CLAUDE.md
self-join rule: both join branches re-evaluate their input;
``plans/materialize.pin`` keeps loop plans flat). Rows
whose pointer already reached a terminal simply miss the join (LEFT)
and carry forward unchanged — no convergence probe needed because the
round count is part of the contract, exactly like linkgraph.pagerank.

Cycles (a<->b, self-redirects, longer loops) and chains deeper than the
2^rounds budget stay UNRESOLVED: their output is
(resolved=0, final_url=NULL, hops=NULL) — deterministic on both
engines, and independent of where in the cycle the doubling happened to
stop. Resolution status is decided by one broadcast-able left join
against the distinct src directory (a pointer that still targets a
redirecting URL is not terminal).

Requires a functional graph: at most one (src, dst) row per src.
Winner selection for multi-observation crawl data belongs upstream
(e.g. ``weburl.latest_snapshot`` picking the newest observation per
URL) — with duplicate srcs the self-join would fan out row counts.

Portability: string equi-joins, COALESCE, BIGINT addition — bit-exact
on both engines; ``sql_resolve_redirects`` is the unrolled DuckDB twin.
The driver oracle is STRONGER than the twin: the fixture graph's
terminals and hop counts are closed-form in the generation rule, so the
expected output is derived without running any doubling at all.

No reference counterpart (specvital/core has no crawl subsystem);
pointer jumping is the classic PRAM list-ranking technique (Wyllie
1979), standard in distributed graph processing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.plans.materialize import pin


def resolve_redirects(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(src, final_url, hops, resolved) for every redirect source.

    ``edges`` is a functional graph (one ``dst`` per ``src``; see module
    docstring). ``resolved`` is 1 when the terminal target was reached
    within ``2**rounds`` hops and that target has no outgoing redirect;
    then ``final_url`` is the terminal URL and ``hops`` the exact chain
    length. Cycles and over-budget chains yield
    (resolved=0, final_url=NULL, hops=NULL).
    """
    if rounds < 1:
        raise ValueError(f"resolve_redirects: rounds must be >= 1, got {rounds}")
    # edges feeds ptr0 AND the src directory — multi-consumer, pin once.
    # NULL src/dst rows are malformed (a redirect with no target would
    # otherwise surface as resolved=1/final_url=NULL, contradicting the
    # NULL-final ⟺ unresolved contract) — dropped on ingest, twin too.
    edges = pin(
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
        ).where("src IS NOT NULL AND dst IS NOT NULL")
    )
    ptr = edges.selectExpr(
        "src AS url", "dst AS next", "CAST(1 AS BIGINT) AS hops"
    )
    for _ in range(rounds):
        p = pin(ptr)
        a, b = p.alias("a"), p.alias("b")
        ptr = a.join(b, F.col("a.next") == F.col("b.url"), "left").select(
            F.col("a.url").alias("url"),
            F.coalesce(F.col("b.next"), F.col("a.next")).alias("next"),
            (
                F.col("a.hops") + F.coalesce(F.col("b.hops"), F.lit(0))
            ).alias("hops"),
        )
    srcs = edges.select(F.col("src").alias("_rsrc")).distinct()
    return (
        ptr.join(srcs, ptr.next == srcs._rsrc, "left")
        .selectExpr(
            "url AS src",
            "CASE WHEN _rsrc IS NULL THEN next END AS final_url",
            "CAST(CASE WHEN _rsrc IS NULL THEN hops END AS BIGINT) AS hops",
            "CAST(CASE WHEN _rsrc IS NULL THEN 1 ELSE 0 END AS INT)"
            " AS resolved",
        )
    )


def sql_resolve_redirects(edges_sql: str, rounds: int = 4) -> str:
    """DuckDB twin of :func:`resolve_redirects` (unrolled doubling).

    ``edges_sql`` must yield (src, dst)."""
    if rounds < 1:
        raise ValueError(f"resolve_redirects: rounds must be >= 1, got {rounds}")
    steps = []
    prev = "p0"
    for t in range(1, rounds + 1):
        steps.append(
            f"""p{t} AS (
              SELECT a.url,
                     COALESCE(b.next, a.next) AS next,
                     a.hops + COALESCE(b.hops, 0) AS hops
              FROM {prev} a LEFT JOIN {prev} b ON a.next = b.url
            )"""
        )
        prev = f"p{t}"
    steps_sql = ",\n".join(steps)
    return f"""
        WITH edges AS (
          SELECT src, dst FROM ({edges_sql})
          WHERE src IS NOT NULL AND dst IS NOT NULL
        ),
        p0 AS (
          SELECT src AS url, dst AS next, CAST(1 AS BIGINT) AS hops
          FROM edges
        ),
        {steps_sql},
        srcs AS (SELECT DISTINCT src FROM edges)
        SELECT p.url AS src,
               CASE WHEN s.src IS NULL THEN p.next END AS final_url,
               CAST(CASE WHEN s.src IS NULL THEN p.hops END AS BIGINT)
                 AS hops,
               CAST(CASE WHEN s.src IS NULL THEN 1 ELSE 0 END AS INT)
                 AS resolved
        FROM {prev} p LEFT JOIN srcs s ON p.next = s.src
    """
