"""Moran's I: global spatial autocorrelation over the raster grid.

"Is this variable CLUSTERED in space, or noise?" is the first question
a spatial analyst asks of any per-cell surface — document density,
language share, quality score. Moran's I is the standard answer
(Moran 1950; the opening statistic of every spatial-stats package):

    I = (n / W) * sum_{ij} w_ij (x_i - mean)(x_j - mean)
              / sum_i (x_i - mean)^2

with w_ij the rook-adjacency weight (1 when cells i, j share an edge)
and W the total weight. I > 0 means likes cluster near likes (dense
cells border dense cells), I < 0 means checkerboard repulsion, I near
-1/(n-1) means spatial randomness.

Exactness is the design problem: the textbook form is mean-centered
doubles, and double group-sums are partition-order-dependent — the one
nondeterminism a Spark hash-agg cannot hide (same reason kde.py
quantizes its kernel weights). The fix is to clear denominators: with
S = sum(x) and integer x, the scaled deviation d_i = n*x_i - S is a
BIGINT, and

    num = sum_{adjacent i,j} d_i * d_j        (= n^2-scaled numerator)
    den = sum_i d_i^2                         (= n^2-scaled denominator)

are exact integer aggregates whose n^2 factors cancel in num/den. The
reported double is computed as (num/den) * (n/W) — two int64->double
conversions and IEEE arithmetic, bit-identical on both engines (the
repo's portability rule: +,-,*,/ on doubles cross engines, trig does
not). Overflow contract: n * max(x) and the pair products must fit
int64 — callers keep grids coarse enough (the fixture's worst term is
~2^50); a production run over finer grids pre-scales x down.

Plan shape (one pass, two shuffles):

1. cells: points -> (cx, cy, x = count) — one hash-agg on uniform
   integer cell keys (FLOOR-before-BIGINT-cast, the NaN-guarded
   hexgrid pattern);
2. totals (n, S): a 1-row aggregate broadcast back onto cells (the
   join is a BroadcastNestedLoopJoin over one row — free);
3. adjacency: each cell explodes its 4 rook neighbor KEYS map-side and
   equi-joins back against the cells table — one uniform-key shuffle,
   never a theta-join (the |dx|+|dy|=1 predicate becomes an equi-join
   on the shifted key, which is what scales: a non-equi adjacency join
   over 10^8 occupied cells is a cartesian; this is a map-side x4
   replication). The cells table feeds both join sides -> pinned once
   (the CLAUDE.md self-join rule);
4. final 1-row combine of num/W with den/n/S.

Ordered pairs are counted both ways ((i,j) and (j,i)) exactly as the
double sum in the definition requires; W counts them the same way.

The DuckDB oracle is an INDEPENDENT plan: the brute-force O(c^2)
non-equi pair join (abs(dcx)+abs(dcy)=1 over the full cell cross
product) with scalar subquery totals — no neighbor-key explode, no
broadcast — honest at fixture scale because the lattice fixture bounds
occupied cells, and structurally unrelated to the shifted-key join it
gates.

No reference counterpart (specvital/core has no spatial-stats
subsystem); the statistic is the published Moran 1950 formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.operators import gridblock as gb
from core_spark.plans.materialize import pin

_ROOK = ((1, 0), (-1, 0), (0, 1), (0, -1))


def cell_counts(
    df: DataFrame, cell: float, lat: str = "lat", lon: str = "lon"
) -> DataFrame:
    """Occupied raster cells (cx, cy, x = point count) at cell size
    ``cell`` degrees. NULL/NaN coordinates dropped (ANSI-safe)."""
    g = float(cell)
    if g <= 0:
        raise ValueError(f"cell_counts: cell must be > 0, got {cell}")
    return (
        df.where(
            f"{lat} IS NOT NULL AND {lon} IS NOT NULL"
            f" AND NOT isnan({lat}) AND NOT isnan({lon})"
        )
        .selectExpr(
            f"{gb.cell(lon, g)} AS cx", f"{gb.cell(lat, g)} AS cy",
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("x"))
    )



def _pin_cells(cells: DataFrame) -> DataFrame:
    return pin(cells.selectExpr(
        "CAST(cx AS BIGINT) AS cx", "CAST(cy AS BIGINT) AS cy",
        "CAST(x AS BIGINT) AS x",
    ))


def _rook_pairs(df: DataFrame, payload: str, li: str, ri: str) -> DataFrame:
    """Ordered rook-adjacent pairs via the shifted-key explode: carry
    ``payload`` from both endpoints as (li, ri). Shared by morans_i and
    gearys_c so the adjacency plan has ONE definition."""
    probes = gb.neighbours(
        df, [f"{payload} AS {li}"], {"nx": "cx", "ny": "cy"}, _ROOK
    )
    return probes.join(
        df.selectExpr("cx AS nx", "cy AS ny", f"{payload} AS {ri}"),
        ["nx", "ny"],
    )


def _sql_cells_dev(src: str, cell: float, lat: str, lon: str) -> str:
    """Shared DuckDB CTE preamble: cells / tot / dev (x and the cleared
    deviation d both projected) — ONE text for both statistics' twins."""
    g = float(cell)
    return f"""
WITH cells AS (
  SELECT CAST(FLOOR({lon} / {g!r}) AS BIGINT) AS cx,
         CAST(FLOOR({lat} / {g!r}) AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM ({src})
  WHERE {lat} IS NOT NULL AND {lon} IS NOT NULL
    AND NOT isnan({lat}) AND NOT isnan({lon})
  GROUP BY 1, 2
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s FROM cells),
-- DuckDB SUM(BIGINT) widens to HUGEINT; every sum is cast back so the
-- emitted schema matches Spark's int64 (the driver compares dtypes)
dev AS (SELECT cx, cy, x,
               CAST((SELECT n FROM tot) * x - (SELECT s FROM tot)
                    AS BIGINT) AS d
        FROM cells)"""


def morans_i(cells: DataFrame) -> DataFrame:
    """Global Moran's I with rook adjacency over (cx, cy, x BIGINT).

    One row: n_cells, w_edges (ordered adjacent pairs), num, den
    (n^2-scaled integer numerator/denominator), moran_i (NULL when the
    statistic is undefined: no adjacent pairs, or a constant surface).
    """
    base = _pin_cells(cells)
    totals = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = base.crossJoin(F.broadcast(totals)).selectExpr(
        "cx", "cy", "n * x - s AS d"
    )
    pairs = _rook_pairs(dev, "d", "d_i", "d_j")
    edge_stats = pairs.agg(
        F.count(F.lit(1)).alias("w_edges"),
        F.sum(F.expr("d_i * d_j")).alias("num"),
    )
    node_stats = dev.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.expr("d * d")).alias("den"),
    )
    return node_stats.crossJoin(edge_stats).selectExpr(
        "n_cells", "coalesce(w_edges, 0L) AS w_edges",
        "coalesce(num, 0L) AS num", "den",
        "CASE WHEN w_edges > 0 AND den > 0 THEN"
        " (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
        " * (CAST(n_cells AS DOUBLE) / CAST(w_edges AS DOUBLE))"
        " ELSE CAST(NULL AS DOUBLE) END AS moran_i",
    )


def sql_morans_i(src: str, cell: float,
                 lat: str = "lat", lon: str = "lon") -> str:
    """DuckDB twin: brute-force O(c^2) non-equi adjacency pair join —
    an independent plan (no neighbor-key explode, no broadcast)."""
    return _sql_cells_dev(src, cell, lat, lon) + f""",
pairs AS (
  SELECT a.d AS d_i, b.d AS d_j
  FROM dev a, dev b
  WHERE abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1
),
edge AS (SELECT CAST(COUNT(*) AS BIGINT) AS w_edges,
                CAST(COALESCE(SUM(d_i * d_j), 0) AS BIGINT) AS num
         FROM pairs),
node AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                CAST(SUM(d * d) AS BIGINT) AS den FROM dev)
SELECT n_cells, w_edges, num, den,
       CASE WHEN w_edges > 0 AND den > 0 THEN
         (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
         * (CAST(n_cells AS DOUBLE) / CAST(w_edges AS DOUBLE))
       ELSE CAST(NULL AS DOUBLE) END AS moran_i
FROM node, edge
"""


def getis_ord_gi(cells: DataFrame) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-scores over (cx, cy, x BIGINT).

    Moran's I answers "is the surface clustered?" globally; Gi* is the
    LOCAL companion — per cell, how extreme is the neighborhood sum
    (queen adjacency + self, binary weights) against the global mean?
    |z| > 1.96 is the standard hot/cold-spot read (Getis & Ord 1992).

    Same exactness recipe as morans_i: every aggregate that crosses a
    shuffle is an integer. With S = sum(x), Q = sum(x^2), n = cells,
    k_i = neighborhood size, G_i = neighborhood sum:

        num_i = n * G_i - k_i * S                    (BIGINT)
        z_i   = num_i / sqrt(A * B_i / (n - 1))      (one IEEE chain)

    where A = n*Q - S^2 and B_i = k_i * (n - k_i). sqrt is IEEE
    correctly-rounded on BOTH engines (JVM Math.sqrt and libm) — the
    one transcendental-adjacent function the portability rules allow,
    same reliance as trajectory path lengths. z_i is NULL when
    undefined (constant surface A = 0, or B_i = 0 on a grid so small
    the neighborhood is everything).

    Output: cx, cy, x, nbr_sum (G_i), nbr_cnt (k_i), gi_z.

    Plan: the morans_i shifted-key shape with nine offsets (queen +
    self) — map-side x9 key explode, ONE uniform equi shuffle, one
    hash-agg back to cells, broadcast 1-row totals. The DuckDB twin is
    the INDEPENDENT brute-force O(c^2) non-equi neighborhood join.
    Overflow contract: n * max(G) and A fit int64 (same as morans_i).
    """
    base = pin(cells.selectExpr(
        "CAST(cx AS BIGINT) AS cx", "CAST(cy AS BIGINT) AS cy",
        "CAST(x AS BIGINT) AS x",
    ))
    totals = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.expr("x * x")).alias("q"),
    )
    # queen + self: the default 3x3 offsets
    probes = gb.neighbours(base, ["x AS x_j"], {"nx": "cx", "ny": "cy"})
    hood = (
        probes.join(base.selectExpr("cx AS nx", "cy AS ny"), ["nx", "ny"])
        .groupBy("nx", "ny")
        .agg(F.sum("x_j").alias("nbr_sum"),
             F.count(F.lit(1)).alias("nbr_cnt"))
    )
    joined = (
        base.join(hood.selectExpr("nx AS cx", "ny AS cy",
                                  "nbr_sum", "nbr_cnt"), ["cx", "cy"])
        .crossJoin(F.broadcast(totals))
    )
    return joined.selectExpr(
        "cx", "cy", "x", "nbr_sum", "nbr_cnt",
        "CASE WHEN n > 1 AND (n * q - s * s) > 0"
        " AND nbr_cnt * (n - nbr_cnt) > 0 THEN"
        " CAST(n * nbr_sum - nbr_cnt * s AS DOUBLE)"
        " / sqrt(CAST(n * q - s * s AS DOUBLE)"
        "        * CAST(nbr_cnt * (n - nbr_cnt) AS DOUBLE)"
        "        / CAST(n - 1 AS DOUBLE))"
        " ELSE CAST(NULL AS DOUBLE) END AS gi_z",
    )


def sql_getis_ord_gi(src: str, cell: float,
                     lat: str = "lat", lon: str = "lon") -> str:
    """DuckDB twin for getis_ord_gi over raw points: brute-force O(c^2)
    non-equi neighborhood join — no key explode, no broadcast."""
    g = float(cell)
    return f"""
WITH cells AS (
  SELECT CAST(FLOOR({lon} / {g!r}) AS BIGINT) AS cx,
         CAST(FLOOR({lat} / {g!r}) AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM ({src})
  WHERE {lat} IS NOT NULL AND {lon} IS NOT NULL
    AND NOT isnan({lat}) AND NOT isnan({lon})
  GROUP BY 1, 2
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS q FROM cells),
hood AS (
  SELECT a.cx, a.cy, a.x,
         CAST(SUM(b.x) AS BIGINT) AS nbr_sum,
         CAST(COUNT(*) AS BIGINT) AS nbr_cnt
  FROM cells a, cells b
  WHERE abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
  GROUP BY a.cx, a.cy, a.x
)
SELECT cx, cy, x, nbr_sum, nbr_cnt,
       CASE WHEN n > 1 AND (n * q - s * s) > 0
            AND nbr_cnt * (n - nbr_cnt) > 0 THEN
         CAST(n * nbr_sum - nbr_cnt * s AS DOUBLE)
         / sqrt(CAST(n * q - s * s AS DOUBLE)
                * CAST(nbr_cnt * (n - nbr_cnt) AS DOUBLE)
                / CAST(n - 1 AS DOUBLE))
       ELSE CAST(NULL AS DOUBLE) END AS gi_z
FROM hood, tot
"""


def gearys_c(cells: DataFrame) -> DataFrame:
    """Geary's C over (cx, cy, x BIGINT) with rook adjacency.

    The third ESDA statistic: where Moran's I is covariance-based
    (global structure), Geary's C is DIFFERENCE-based — sum of squared
    neighbor differences against the variance — so it reacts to local
    roughness Moran averages away (Geary 1954; C < 1 clustered, C = 1
    random, C > 1 checkerboard). Same machinery as morans_i: shifted-
    key rook adjacency (ordered pairs both ways, W counts them the
    same way), and the exactness recipe is even simpler — the
    numerator sum_{adj}(x_i - x_j)^2 is ALREADY integer (no mean in
    it), and the denominator reuses the cleared form
    sum(n*x_i - S)^2 = n^2 * sum(x_i - mean)^2, so

        C = (n-1) * num * n^2 / (2 * W * den_scaled)

    evaluated as ONE double chain (int64->double conversions + mul/div
    in fixed order — the products exceed int64 at fixture scale, and
    the IEEE chain is bit-identical cross-engine anyway, same grounds
    as moran_i/gi_z). NULL when undefined (no adjacency or constant
    surface). Output: n_cells, w_edges, num, den, geary_c.
    """
    base = _pin_cells(cells)
    totals = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = base.crossJoin(F.broadcast(totals)).selectExpr(
        "cx", "cy", "x", "n * x - s AS d"
    )
    pairs = _rook_pairs(dev, "x", "x_i", "x_j")
    edge_stats = pairs.agg(
        F.count(F.lit(1)).alias("w_edges"),
        F.sum(F.expr("(x_i - x_j) * (x_i - x_j)")).alias("num"),
    )
    node_stats = dev.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.expr("d * d")).alias("den"),
    )
    return node_stats.crossJoin(edge_stats).selectExpr(
        "n_cells", "coalesce(w_edges, 0L) AS w_edges",
        "coalesce(num, 0L) AS num", "den",
        "CASE WHEN w_edges > 0 AND den > 0 THEN"
        " (CAST(n_cells - 1 AS DOUBLE) * CAST(num AS DOUBLE)"
        "  * CAST(n_cells AS DOUBLE) * CAST(n_cells AS DOUBLE))"
        " / (2.0 * CAST(w_edges AS DOUBLE) * CAST(den AS DOUBLE))"
        " ELSE CAST(NULL AS DOUBLE) END AS geary_c",
    )


def sql_gearys_c(src: str, cell: float,
                 lat: str = "lat", lon: str = "lon") -> str:
    """DuckDB twin: brute-force O(c^2) non-equi adjacency join, scalar
    subquery totals — the independent plan, as sql_morans_i."""
    return _sql_cells_dev(src, cell, lat, lon) + f""",
pairs AS (
  SELECT a.x AS x_i, b.x AS x_j
  FROM dev a, dev b
  WHERE abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1
),
edge AS (SELECT CAST(COUNT(*) AS BIGINT) AS w_edges,
                CAST(COALESCE(SUM((x_i - x_j) * (x_i - x_j)), 0)
                     AS BIGINT) AS num
         FROM pairs),
node AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                CAST(SUM(d * d) AS BIGINT) AS den FROM dev)
SELECT n_cells, w_edges, num, den,
       CASE WHEN w_edges > 0 AND den > 0 THEN
         (CAST(n_cells - 1 AS DOUBLE) * CAST(num AS DOUBLE)
          * CAST(n_cells AS DOUBLE) * CAST(n_cells AS DOUBLE))
         / (2.0 * CAST(w_edges AS DOUBLE) * CAST(den AS DOUBLE))
       ELSE CAST(NULL AS DOUBLE) END AS geary_c
FROM node, edge
"""


def lisa_moran(cells: DataFrame) -> DataFrame:
    """Local Moran's I (LISA, Anselin 1995) over (cx, cy, x BIGINT).

    The decomposition of the global statistic: per cell,
    I_i = n * d_i * sum_{j in N(i)} d_j / den (rook neighbors, cleared
    deviations d = n*x - S, den = sum d^2) — positive I_i marks a
    high-high or low-low cluster member, negative a spatial outlier
    (high cell in a low neighborhood or vice versa). The identity
    sum_i(d_i * nbr_dev_sum_i) = morans_i.num ties local to global and
    is pytest-asserted. Every shuffled value is an exact BIGINT; the
    reported double is one IEEE chain (the family recipe). NULL when
    the global statistic is undefined (constant surface) — isolated
    cells report nbr_dev_sum 0 and lisa 0.

    Output: cx, cy, x, dev (d_i), nbr_dev_sum, lisa.
    """
    base = _pin_cells(cells)
    totals = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = pin(base.crossJoin(F.broadcast(totals)).selectExpr(
        "cx", "cy", "x", "n AS _n", "n * x - s AS d"
    ))
    nbr = (
        _rook_pairs(dev, "d", "d_i", "d_j")
        .groupBy("nx", "ny")
        .agg(F.sum("d_i").alias("nbr_dev_sum"))
    )
    den = dev.agg(F.sum(F.expr("d * d")).alias("_den"))
    return (
        dev.join(nbr.selectExpr("nx AS cx", "ny AS cy", "nbr_dev_sum"),
                 ["cx", "cy"], "left_outer")
        .crossJoin(F.broadcast(den))
        .selectExpr(
            "cx", "cy", "x", "d AS dev",
            "coalesce(nbr_dev_sum, 0L) AS nbr_dev_sum",
            "CASE WHEN _den > 0 THEN"
            " CAST(_n AS DOUBLE)"
            " * CAST(d * coalesce(nbr_dev_sum, 0L) AS DOUBLE)"
            " / CAST(_den AS DOUBLE)"
            " ELSE CAST(NULL AS DOUBLE) END AS lisa",
        )
    )


def sql_lisa_moran(src: str, cell: float,
                   lat: str = "lat", lon: str = "lon") -> str:
    """DuckDB twin: the brute-force O(c^2) non-equi neighbor sum over
    the shared cells/tot/dev preamble — the independent plan."""
    return _sql_cells_dev(src, cell, lat, lon) + f""",
nbr AS (
  SELECT a.cx, a.cy,
         CAST(COALESCE(SUM(b.d), 0) AS BIGINT) AS nbr_dev_sum
  FROM dev a LEFT JOIN dev b
    ON abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1
  GROUP BY a.cx, a.cy
),
den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS _den FROM dev)
SELECT v.cx, v.cy, v.x, v.d AS dev, nbr.nbr_dev_sum,
       CASE WHEN _den > 0 THEN
         CAST((SELECT n FROM tot) AS DOUBLE)
         * CAST(v.d * nbr.nbr_dev_sum AS DOUBLE)
         / CAST(_den AS DOUBLE)
       ELSE CAST(NULL AS DOUBLE) END AS lisa
FROM dev v JOIN nbr ON nbr.cx = v.cx AND nbr.cy = v.cy
CROSS JOIN den
"""
