"""Synchronous label propagation — community detection on the host graph.

The graph family's missing flavor: connected components finds
REACHABILITY islands, k-core finds DENSITY shells, PageRank/HITS rank
NODES — none of them partitions a connected graph into its densely
intra-linked regions. Label propagation (Raghavan et al. 2007) does,
in O(rounds) joins with no objective function to optimize: each node
adopts the label carried by the plurality of its neighbors.

Determinism (the published algorithm is famously order-dependent;
this variant is not):
- SYNCHRONOUS rounds — every node updates from the round-(t-1)
  labels, never a mix (the asynchronous variant depends on visit
  order, which no distributed engine should promise);
- plurality ties break to the SMALLEST label (min(struct(-w, lbl)) —
  the argmax-by-struct trick every registry loop uses);
- fixed ``iters`` rounds, not convergence polling (synchronous LPA
  can oscillate 2-cycles on bipartite-ish regions; a fixed horizon
  makes the output a pure function of the input).

Votes: each directed edge contributes BOTH directions (undirected
plurality); multi-edges vote multiple times (weighted multigraph
semantics — both engines keep duplicate slots); self-loops vote for
the node's own label. Isolated nodes (none in a closed derived
graph) keep their previous label via the left-join COALESCE.

Scale shape: per round ONE equi-join of the (2·E)-row vote table
against the |V|-row label table on uniform host keys + two hash-aggs,
label table re-pinned per round (pin cuts lineage — the measured
persist-vs-local lesson); the vote table itself is pinned once. The
DuckDB twin unrolls rounds as AS MATERIALIZED CTEs (the kcore lesson:
without MATERIALIZED the planner inlines 3^rounds copies) and
resolves the plurality argmax by ROW_NUMBER — an independent
formulation of the tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.plans.materialize import pin


def label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(host, community, csize) after ``iters`` synchronous rounds of
    min-tie-break plurality label propagation over the undirected
    multigraph of ``edges`` (src, dst)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    edges = pin(edges)
    votes = pin(
        edges.selectExpr("src AS node", "dst AS nbr")
        .unionAll(edges.selectExpr("dst AS node", "src AS nbr"))
    )
    nodes = pin(votes.select("node").distinct())
    lbl = nodes.selectExpr("node", "node AS lbl")
    for _ in range(iters):
        counts = (
            votes.join(
                lbl.selectExpr("node AS _n", "lbl AS nlbl"),
                F.col("nbr") == F.col("_n"),
            )
            .groupBy("node", "nlbl")
            .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("w"))
        )
        best = (
            counts.groupBy(F.col("node").alias("_bn"))
            .agg(F.expr(
                "min(named_struct('nw', -w, 'l', nlbl)).l"
            ).alias("blbl"))
        )
        lbl = (
            lbl.join(best, F.col("node") == F.col("_bn"), "left")
            .selectExpr("node", "COALESCE(blbl, lbl) AS lbl")
        )
        lbl = pin(lbl)
    sizes = lbl.groupBy(F.col("lbl").alias("_sl")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("csize")
    )
    return (
        lbl.join(F.broadcast(sizes), F.col("lbl") == F.col("_sl"))
        .selectExpr("node AS host", "lbl AS community", "csize")
    )


def sql_label_propagation(edges_sql: str, iters: int = 3) -> str:
    """DuckDB twin: unrolled AS MATERIALIZED rounds, plurality argmax
    via ROW_NUMBER (w DESC, lbl ASC) — the independent tie-break
    formulation. ``edges_sql`` yields (src, dst)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    rounds = []
    prev = "l0"
    for t in range(1, iters + 1):
        rounds.append(f"""l{t} AS MATERIALIZED (
          SELECT n.node,
                 COALESCE(
                   (SELECT b.nlbl FROM (
                      SELECT r.lbl AS nlbl,
                             CAST(COUNT(*) AS BIGINT) AS w
                      FROM votes v JOIN {prev} r ON r.node = v.nbr
                      WHERE v.node = n.node
                      GROUP BY r.lbl
                      ORDER BY w DESC, nlbl ASC LIMIT 1
                    ) b),
                   n.lbl) AS lbl
          FROM {prev} n
        )""")
        prev = f"l{t}"
    rounds_sql = ",\n".join(rounds)
    return f"""
        WITH edges AS MATERIALIZED ({edges_sql}),
        votes AS MATERIALIZED (
          SELECT src AS node, dst AS nbr FROM edges
          UNION ALL
          SELECT dst AS node, src AS nbr FROM edges
        ),
        l0 AS MATERIALIZED (
          SELECT DISTINCT node, node AS lbl FROM votes
        ),
        {rounds_sql},
        sizes AS (
          SELECT lbl, CAST(COUNT(*) AS BIGINT) AS csize
          FROM {prev} GROUP BY lbl
        )
        SELECT p.node AS host, p.lbl AS community, s.csize
        FROM {prev} p JOIN sizes s ON p.lbl = s.lbl
    """
