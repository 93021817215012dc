"""G7/G8 — zonal aggregation with explicit mega-cell skew handling.

Per-tile document count + language distribution (the north-star rollup,
BASELINE.json:6). Plain ``groupBy(cell)`` already gets map-side partial
aggregation from Spark's hash aggregate; the part that genuinely skews at
10^12 rows is building per-cell *collections* (the language map): a single
urban mega-cell can funnel 10^8 rows into one reducer task.

Strategy (SURVEY.md G8):
  1. first aggregate by (cell, lang) — two-phase by construction, partials
     combine map-side, so no single task ever sees a mega-cell's raw rows;
  2. then assemble the tiny (cell, lang, count) triples into a map per cell.
For the count-distinct-free metrics this is exact, shuffle-minimal, and
needs no sampling. A decomposable count needs no salt either
(``salted_counts``): the partial aggregate below the one exchange already
cuts a mega-cell to one row per map task. Salt only an aggregate that
cannot be split.

Reference analog: framework histogram + confidence distribution
(tests/integration/snapshot.go:44-47; pkg/parser/scanner.go:116-118).
"""

from __future__ import annotations

from core_spark.functions import hexgrid as hx


def zonal_rollup(df, cell_col: str = "h3_r7", lang_col: str = "lang"):
    """Per-cell doc_count + lang_counts map. Exact, two-phase, skew-safe."""
    from pyspark.sql import functions as F

    per_lang = df.groupBy(cell_col, lang_col).agg(F.count("*").alias("n"))
    return (
        per_lang.groupBy(cell_col)
        .agg(
            F.sum("n").alias("doc_count"),
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct(lang_col, "n")))
            ).alias("lang_counts"),
        )
    )


def salted_counts(df, cell_col: str, salt_src: str = "url"):
    """Per-cell ``doc_count`` in one grouped count, with no salt.

    The partial count runs map-side below the single exchange, so a
    mega-cell reaches its reducer as at most one row per map task, which
    is all a salted (cell, salt) pre-aggregate would give it, without the
    second shuffle. ``salt_src`` is unused; callers that still pass it
    run unchanged.
    """
    from pyspark.sql import functions as F

    return df.groupBy(cell_col).agg(F.count("*").alias("doc_count"))


def rasterize(spark, zonal_df, res: int, pixel_deg: float = 2.0,
              cell_col: str = "cell", value_col: str = "doc_count"):
    """Raster half of G7: per-cell aggregates -> a regular equirectangular
    pixel grid.

    Every pixel center is assigned its hex cell by the same JVM-side
    emitter as documents (hexgrid.with_cells), then joined against the zonal
    aggregate — so raster pixels and document assignments can NEVER disagree
    (one shared cell function). Pixels whose cell has no documents carry 0.

    Pure Column arithmetic + one broadcast-able join: at production raster
    sizes (p=0.01 deg -> 648M pixels) the join key (cell id) is uniform and
    the zonal side is the small one.
    """
    from pyspark.sql import functions as F

    nx = int(round(360.0 / pixel_deg))
    ny = int(round(180.0 / pixel_deg))
    pixels = (
        spark.range(0, nx * ny)
        .selectExpr(
            f"CAST(id % {nx} AS BIGINT) AS ix",
            f"CAST(FLOOR(id / {nx}) AS BIGINT) AS iy",
        )
        .selectExpr(
            "ix",
            "iy",
            f"-180.0 + (ix + 0.5) * {pixel_deg!r} AS plon",
            f"-90.0 + (iy + 0.5) * {pixel_deg!r} AS plat",
        )
    )
    pixels = hx.with_cells(pixels, "plat", "plon", {"pcell": res})
    return (
        pixels.join(
            zonal_df.select(F.col(cell_col).alias("pcell"), F.col(value_col)),
            "pcell",
            "left",
        )
        .selectExpr("ix", "iy", f"COALESCE({value_col}, 0) AS {value_col}")
    )

