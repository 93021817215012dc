"""k-core decomposition: the densely-interlinked subgraph that survives
iterative peeling.

PageRank ranks hosts, triangles count local density — the k-core is
the SUBGRAPH question: which hosts remain when every node with fewer
than k neighbors is repeatedly removed? Link-farm / spam-cluster
detection's classic shape (a farm is a dense core by construction;
honest long-tail sites peel away), and the standard "nucleus" filter
before community detection.

Peeling is inherently iterative AND cascading: removing a degree-2
chain end drops its neighbor to degree 2, which peels next round —
the fixture plants exactly such a chain (6 rounds at the driver
scale). Each round is one degree hash-agg on uniform node keys + two
LEFT-SEMI joins filtering the edge list to kept endpoints, pinned via
pin (the CC/SSSP loop discipline — plans would deepen
every round otherwise). Convergence = the kept-edge COUNT repeating:
peeling only ever removes edges, so an unchanged count IS the fixed
point (a one-row aggregate over already-materialized partitions — no
signature hash needed, unlike CC whose star steps can rewrite edges
without changing the count). Non-convergence within ``max_rounds``
raises — a path graph peels one node per round, so the bound is the
honest worst case, stated.

Input edges are DIRECTED (src, dst) rows; the graph is symmetrized
and self-loops/NULLs drop on ingest — degree means UNDIRECTED
neighbor count. Output: (node, core_degree) for k-core members,
degree measured in the induced subgraph (>= k by definition,
pytest-pinned).

The DuckDB twin UNROLLS the rounds (the pagerank/hits convention) —
idempotence past the fixed point makes a generous unroll exact, and
the Spark side's convergence assertion is what licenses comparing a
fixpoint loop against a fixed-depth unroll.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.plans.materialize import pin


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 30,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, core_degree) for every node of the k-core."""
    kk = int(k)
    if kk < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if int(max_rounds) < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    e = (
        edges.selectExpr(f"{src_col} AS a", f"{dst_col} AS b")
        .where("a IS NOT NULL AND b IS NOT NULL AND a != b")
    )
    sym = pin(
        e.unionByName(e.selectExpr("b AS a", "a AS b")).distinct())
    prev = None
    converged = False
    for _ in range(int(max_rounds) + 1):
        n_edges = sym.count()
        if prev is not None and n_edges == prev:
            converged = True
            break
        prev = n_edges
        keep = (
            sym.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
            .where(F.col("_d") >= kk)
            .select("a")
        )
        sym = pin(
            sym.join(keep, "a", "left_semi")
            .join(keep.selectExpr("a AS b"), "b", "left_semi")
        )
    if not converged:
        raise RuntimeError(
            f"k_core: no fixed point within {max_rounds} rounds"
            " (pathological peel chain; raise max_rounds)")
    return (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def sql_k_core(
    edges_sql: str,
    k: int,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> str:
    """DuckDB twin: ``rounds`` unrolled peels (idempotent past the
    fixed point — pick rounds >= the fixture's convergence depth; the
    Spark side ASSERTS convergence, which licenses the comparison)."""
    kk = int(k)
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each round references the previous one THREE times (degree cut +
    # both endpoint joins) -> 3^rounds expression copies, planner hang
    # measured at rounds=8. Materialization makes the unroll linear.
    parts = [f"""
        e0 AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT {src_col} AS a, {dst_col} AS b FROM ({edges_sql}) s
            UNION ALL
            SELECT {dst_col} AS a, {src_col} AS b FROM ({edges_sql}) s
          ) u
          WHERE a IS NOT NULL AND b IS NOT NULL AND a != b
        )"""]
    for r in range(1, int(rounds) + 1):
        parts.append(f"""
        k{r} AS MATERIALIZED (
          SELECT a FROM e{r - 1} GROUP BY a HAVING COUNT(*) >= {kk}
        ),
        e{r} AS MATERIALIZED (
          SELECT e.a, e.b FROM e{r - 1} e
          JOIN k{r} ka ON ka.a = e.a
          JOIN k{r} kb ON kb.a = e.b
        )""")
    return f"""
        WITH {','.join(parts)}
        SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM e{int(rounds)}
        GROUP BY a
    """
