"""Multi-source BFS shortest-hop distances over the host link graph.

Crawl-depth labeling is the canonical use: given a seed set (the hosts
a crawler starts from), every host's minimum link-hop distance from ANY
seed is the standard crawl-frontier priority signal (shallow hosts get
crawled first; hosts beyond the horizon are dropped). The same kernel
answers "within k hops of a spam seed" blocklist expansion and
influence-radius queries over the linkgraph.py edge tables.

Plan shape — the textbook bulk-synchronous frontier BFS, which is also
the right plan at web scale:

1. ``dist`` starts as the seed set at hops 0; ``frontier`` = seeds.
2. Each round: frontier equi-joins ``edges`` on src (ONE uniform-key
   shuffle — host keys are md5-derived, so no skew by construction of
   the derived graphs; a real crawl graph would pre-salt mega-hubs the
   way zonal.py does), dst's collapse to DISTINCT, and a left-anti join
   against ``dist`` keeps only first-time nodes. Those become the next
   frontier at hops+1 and union into ``dist``.
3. The loop is bounded by ``max_hops`` — a FIXED round count, so the
   job's stage graph is static (resumable, explainable) — and exits
   early when a frontier empties (one cheap ``isEmpty`` probe per round
   on an already-pinned frontier; the probe reuses computed partitions,
   it never re-runs the round).

Both ``dist`` and ``frontier`` are pinned per round via
``plans.materialize.pin`` — BFS is exactly the lineage-
deepening loop shape the materialize module exists for: without
truncation, round R's plan nests all R-1 prior rounds.

Frontier size is O(nodes) and ``dist`` grows monotonically to O(nodes);
neither ever holds payload columns — at 10^12 documents the node table
is ~10^7-10^8 hosts, a few GB, comfortably shuffle-sized. Rounds are
sequential by nature (BFS has a depth-order dependency), so wall-clock
is max_hops × one-shuffle latency — at web scale you pick max_hops as
the crawl horizon (≤ ~6 for host graphs; small-world diameter).

The DuckDB oracle is an INDEPENDENT plan: a recursive CTE that
enumerates ALL (node, hops) pairs reachable within the bound (UNION
recursion dedups rows, so cycles terminate) and takes MIN(hops) per
node — no frontier, no anti-join, so the incremental-frontier logic
itself is what the cross-engine gate verifies.

No reference counterpart (specvital/core has no graph subsystem); the
algorithm is the standard BSP/Pregel BFS formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.plans.materialize import pin


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """(node, hops): minimum directed-hop distance from any seed,
    for every node reachable within ``max_hops`` (seeds report 0).

    ``edges`` is followed src→dst (directed). Nodes not reached within
    the bound are absent — the caller left-joins if it needs explicit
    "beyond horizon" rows. NULL endpoints and NULL seeds are dropped
    (a NULL node can never equi-join an edge; emitting it at hops 0
    would fabricate a vertex the graph doesn't have).
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.where(
        f"{src} IS NOT NULL AND {dst} IS NOT NULL"
    ).selectExpr(f"{src} AS _s", f"{dst} AS _d").distinct()
    # dist is kept as a list of per-round PINNED pieces; their union is
    # a shallow plan (each piece is a checkpoint scan), so only the new
    # frontier needs a pin each round — one materialization per round,
    # not two.
    pieces = [pin(
        seeds.where(f"{node} IS NOT NULL")
        .selectExpr(f"{node} AS node").distinct()
        .selectExpr("node", "CAST(0 AS BIGINT) AS hops")
    )]
    frontier = pieces[0].select("node")
    for h in range(1, max_hops + 1):
        if frontier.isEmpty():
            break
        seen = pieces[0].select("node")
        for p in pieces[1:]:
            seen = seen.unionAll(p.select("node"))
        nxt = pin(
            frontier.join(e, frontier.node == e._s)
            .select(F.col("_d").alias("node")).distinct()
            .join(seen, "node", "left_anti")
            .selectExpr("node", f"CAST({h} AS BIGINT) AS hops")
        )
        pieces.append(nxt)
        frontier = nxt.select("node")
    dist = pieces[0]
    for p in pieces[1:]:
        dist = dist.unionAll(p)
    return dist


def sql_bfs_hops(
    edges_sql: str,
    seeds_sql: str,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> str:
    """DuckDB twin via the INDEPENDENT recursive-CTE plan: enumerate
    every (node, hops) pair within the bound (UNION recursion dedups
    full rows, so cyclic graphs terminate at the hop bound), then
    MIN(hops) per node. ``edges_sql``/``seeds_sql`` are subqueries
    yielding the same columns the Spark side consumed."""
    return f"""
        WITH RECURSIVE edges_ AS (
          SELECT {src} AS s, {dst} AS d FROM ({edges_sql})
          WHERE {src} IS NOT NULL AND {dst} IS NOT NULL
        ), reach(n, h) AS (
          SELECT DISTINCT {node}, CAST(0 AS BIGINT) FROM ({seeds_sql})
          WHERE {node} IS NOT NULL
          UNION
          SELECT e.d, r.h + 1
          FROM reach r JOIN edges_ e ON e.s = r.n
          WHERE r.h < {max_hops}
        )
        SELECT n AS node, MIN(h) AS hops FROM reach GROUP BY n
    """
