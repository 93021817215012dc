"""Weighted single-source(-set) shortest paths: bounded Bellman-Ford.

bfs.py labels hop DEPTH; real crawl and link-analysis graphs are
WEIGHTED — politeness-adjusted fetch cost per edge, link-quality
penalties, latency estimates — and the frontier question becomes "what
is the cheapest way to reach this host from the seed set, using at
most k links?" That is bounded Bellman-Ford: after round r, ``dist``
holds the exact minimum path weight over paths of <= r edges, so a
fixed ``max_hops`` bound both terminates cycles and IS the semantic
(the crawl horizon), with no negative-cycle caveat needed.

The BSP shape differs from BFS in one essential way: distances are NOT
append-only. A node first reached by a heavy direct edge can improve
later via a lighter multi-hop path, so BFS's union-of-pinned-pieces
trick (one pin per round) does not apply — each round must both EXPAND
(frontier x edges, min per dst) and RECONCILE (keep strictly better
candidates, rewrite dist). Two pins per round (the improved frontier
and the reconciled dist) is the honest cost of non-monotone state;
both go through plans.materialize.pin, the module built for
lineage-deepening loops.

Round anatomy (all uniform-key equi shuffles):

1. candidates: frontier JOIN edges on src -> (dst, d + w), hash-agg
   MIN per dst (map-side combine collapses parallel edges early);
2. improved: candidates LEFT JOIN dist — keep where unseen or strictly
   better (strict: ties don't churn the frontier, which is what makes
   the loop reach a fixed point instead of oscillating on equal-cost
   paths);
3. reconcile: dist LEFT-ANTI improved UNION improved (an anti-join +
   union, NOT a full regroup of dist — only rows that changed move);
4. next frontier = improved; early exit when it empties (an isEmpty
   probe on an already-pinned frontier, never a recompute).

Weights are BIGINT by contract (fixed-point scale upstream, the
hull/segjoin convention) so every d + w and MIN is exact integer
arithmetic — no float accumulation order anywhere. Seeds report 0,
including seeds with no edges (a seed is reachable from itself);
nodes beyond the horizon are absent (callers left-join for explicit
"unreachable" rows). NULL endpoints, weights, and seeds drop on
ingest.

At web scale the state table is hosts (~10^7-10^8 rows, a few GB);
rounds are sequential by the algorithm's nature, so wall-clock is
max_hops x one-shuffle latency — identical budget to bfs_hops, with
the one extra anti-join shuffle per round as the price of weights.

The DuckDB oracle is an INDEPENDENT plan: a recursive CTE that
enumerates ALL (node, cost, hops) path states within the bound (UNION
dedups states, so the enumeration is finite on cyclic graphs) and
takes MIN(cost) per node — no frontier, no reconcile, so the
improvement/anti-join logic itself is what the gate verifies.

No reference counterpart (specvital/core has no graph subsystem); the
algorithm is the standard BSP Bellman-Ford formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.plans.materialize import pin


def sssp_costs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
) -> DataFrame:
    """(node, cost): minimum total edge weight from any seed over
    directed paths of at most ``max_hops`` edges (seeds report 0)."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    # the edge table is consumed once PER ROUND — pinned once up front,
    # or every round re-runs the min-collapse shuffle and the caller's
    # whole edge-derivation plan (the CLAUDE.md multi-consumer rule;
    # bfs.py's unpinned e is fine only because it is a filter-only plan)
    e = pin(
        edges.where(f"{src} IS NOT NULL AND {dst} IS NOT NULL"
                    f" AND {weight} IS NOT NULL")
        .selectExpr(f"{src} AS _s", f"{dst} AS _d",
                    f"CAST({weight} AS BIGINT) AS _w")
        .groupBy("_s", "_d").agg(F.min("_w").alias("_w"))
    )
    dist = pin(
        seeds.where(f"{node} IS NOT NULL")
        .selectExpr(f"{node} AS node").distinct()
        .selectExpr("node", "CAST(0 AS BIGINT) AS cost")
    )
    frontier = dist
    for _ in range(max_hops):
        if frontier.isEmpty():
            break
        cand = (
            frontier.join(e, frontier.node == e._s)
            .selectExpr("_d AS node", "cost + _w AS cost")
            .groupBy("node").agg(F.min("cost").alias("cost"))
        )
        improved = pin(
            cand.join(
                dist.selectExpr("node", "cost AS _old"), "node", "left_outer"
            )
            .where("_old IS NULL OR cost < _old")
            .select("node", "cost")
        )
        if improved.isEmpty():
            break
        dist = pin(dist.join(improved, "node", "left_anti").unionAll(improved))
        frontier = improved
    return dist


def sql_sssp_costs(
    edges_sql: str,
    seeds_sql: str,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
) -> str:
    """DuckDB twin via the INDEPENDENT recursive-CTE plan: enumerate
    every (node, cost, hops) path state within the bound, MIN(cost)
    per node. Parallel edges collapse to their min weight on ingest,
    matching the Spark side."""
    return f"""
        WITH RECURSIVE edges_ AS (
          SELECT {src} AS s, {dst} AS d,
                 MIN(CAST({weight} AS BIGINT)) AS w
          FROM ({edges_sql})
          WHERE {src} IS NOT NULL AND {dst} IS NOT NULL
            AND {weight} IS NOT NULL
          GROUP BY 1, 2
        ), reach(n, c, h) AS (
          SELECT DISTINCT {node}, CAST(0 AS BIGINT), 0 FROM ({seeds_sql})
          WHERE {node} IS NOT NULL
          UNION
          SELECT e.d, r.c + e.w, r.h + 1
          FROM reach r JOIN edges_ e ON e.s = r.n
          WHERE r.h < {max_hops}
        )
        SELECT n AS node, MIN(c) AS cost FROM reach GROUP BY n
    """
