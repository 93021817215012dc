"""G3/G4 operators — tile assignment (HX res 5-9 + S2) as DataFrame stages.

Assignment is pure Column arithmetic (hexgrid.with_cells: five
projections for all resolutions, every generated method under HotSpot's
8,000-byte JIT limit): stays in whole-stage codegen, never leaves the
JVM, and survives any partitioning — exactly the property needed at
10^12 rows. S2 (functions/s2.py) is the one numpy UDF stage, kept
optional.

Reference analog: per-file framework stamping before aggregation
(pkg/parser/scanner.go:567-618 parseFile -> TestFile.Framework).
"""

from __future__ import annotations

from core_spark.functions import hexgrid as hx
from core_spark.plans.materialize import pin

#: the flagship's hex resolutions (the fused stage's h3_r5..h3_r9 columns)
RESOLUTIONS = (5, 6, 7, 8, 9)


def assign_tiles(df, lat_col: str = "lat", lon_col: str = "lon",
                 resolutions=RESOLUTIONS, s2_level: int | None = None):
    """Append h3_r{res} cell-id columns (and optionally s2_cell).

    NULL-safe: invalid/missing coordinates produce NULL cells, which
    groupBy/join naturally segregate (error-as-data).
    """
    out = hx.with_cells(df, lat_col, lon_col, {f"h3_r{res}": res for res in resolutions})
    if s2_level is not None:
        from core_spark.functions.s2 import s2_cell_col

        out = out.withColumn("s2_cell", s2_cell_col(lat_col, lon_col, s2_level))
    return out


def rollup_tiles(df, cell_col: str, levels: int):
    """Append parent columns for ``levels`` coarser resolutions via the exact
    aperture-7 parent relation (no re-assignment — H3-cellToParent semantics)."""
    out = df
    cur = cell_col
    for _ in range(levels):
        nxt = f"{cur}_p"
        out = hx.apply_steps(out, hx.parent_steps(cur, nxt))
        cur = nxt
    return out


def compact_cells(df, input_res: int, min_res: int, cell_col: str = "cell"):
    """H3-``compact`` semantics: replace every COMPLETE 7-child family with
    its parent, recursively up to ``min_res`` — the minimal multi-res cell
    set covering the same area (hypertable-rollup family; the reference
    has no spatial subsystem).

    Plan: per level, one hash aggregate (parent, count)==7 finds promoted
    parents (map-side combine; exact because input is made distinct), one
    anti join keeps the unpromoted children, and the promoted set —
    shrinking ~7x per level — feeds the next level. The level count is
    FIXED (input_res - min_res), so the plan is static, no
    iterate-to-convergence. Each level's working set is eagerly
    pinned via ``plans.materialize.pin`` (it feeds both the aggregate and
    the anti join — the CLAUDE.md self-join rule; ``pin`` picks a
    cluster-safe checkpoint from the session's master).

    Returns a single ``cell`` column at mixed resolutions
    (res = cell >> 59 by construction).
    """
    from pyspark.sql import functions as F

    cur = df.select(F.col(cell_col).alias("cell")).distinct()
    kept_levels = []
    for _res in range(input_res, min_res, -1):
        cur = pin(cur)
        withp = hx.apply_steps(
            cur, hx.parent_steps("cell", "parent")
        ).select("cell", "parent")
        promoted = (
            withp.groupBy("parent")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") == 7)
            .select("parent")
        )
        kept_levels.append(
            withp.join(promoted, "parent", "left_anti").select("cell")
        )
        cur = promoted.select(F.col("parent").alias("cell"))
    out = cur
    for kept in kept_levels:
        out = out.unionByName(kept)
    return out


def sql_compact_cells(gen_sql: str, input_res: int, min_res: int) -> str:
    """DuckDB oracle twin of ``compact_cells`` (levelled CTE chain)."""
    parent = hx.sql_cell_to_parent("cell")
    ctes = [f"c{input_res} AS (SELECT DISTINCT cell FROM ({gen_sql}))"]
    union = []
    for res in range(input_res, min_res, -1):
        ctes.append(
            f"p{res} AS (SELECT cell, {parent} AS p FROM c{res})"
        )
        ctes.append(
            f"c{res - 1} AS (SELECT p AS cell FROM p{res}"
            f" GROUP BY p HAVING COUNT(*) = 7)"
        )
        union.append(
            f"SELECT cell FROM p{res}"
            f" WHERE p NOT IN (SELECT cell FROM c{res - 1})"
        )
    union.append(f"SELECT cell FROM c{min_res}")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + " UNION ALL ".join(union)
    )
