"""assign_tiles as Spark runs it: the cell ids equal the numpy kernel on an
adversarial table, and every method whole-stage codegen generates for it
stays under HotSpot's 8,000-byte JIT limit.

HotSpot never JIT-compiles a method over 8,000 bytes of bytecode
(-XX:+DontCompileHugeMethods is the default), so a larger ``processNext``
runs every row in the bytecode interpreter: r5-r9 over 600k points took
4.2 s with a 10.6 KB method against 0.25 s under the limit (4 cores).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from core_spark.functions import hexgrid as hx
from core_spark.functions import s2
from core_spark.operators.tiles import RESOLUTIONS, assign_tiles

pytestmark = pytest.mark.spark

JIT_LIMIT = 8000


def adversarial_points(seed: int = 5) -> tuple[list, list]:
    """(lat, lon) lists, None for NULL: the invalid and seam values, the
    centre and vertices of about 300 cells per resolution r5-r9, and random
    points past every bound."""
    rng = np.random.default_rng(seed)
    nan, inf = float("nan"), float("inf")
    special = [
        (None, 0.0), (0.0, None), (None, None), (nan, 0.0), (0.0, nan),
        (inf, 0.0), (-inf, 0.0), (0.0, inf), (0.0, -inf), (-inf, inf),
        (10.0, 180.0), (10.0, -180.0), (10.0, 540.0), (10.0, 1e15),
        (-33.3, -1e15), (0.0, 180.0), (0.0, -180.0), (0.0, 0.0),
        (90.0, 0.0), (-90.0, 0.0), (90.0, 180.0), (-90.0, -180.0),
        (90.0000001, 0.0), (-90.0000001, 0.0), (90.0000001, 540.0),
    ]
    lat = [p[0] for p in special]
    lon = [p[1] for p in special]
    for res in RESOLUTIONS:
        seeds = hx.latlon_to_cell(rng.uniform(-85, 85, 400), rng.uniform(-180, 180, 400), res)
        for cell in np.unique(seeds)[:300]:
            clat, clon = hx.cell_to_center(np.asarray([cell]))
            points = [(float(clat[0]), float(clon[0]))] + hx.cell_to_boundary(int(cell))
            lat += [p[0] for p in points]
            lon += [p[1] for p in points]
    lat += rng.uniform(-95, 95, 20_000).tolist()
    lon += rng.uniform(-400, 400, 20_000).tolist()
    return lat, lon


def _frame(spark, lat, lon):
    return spark.createDataFrame(list(zip(range(len(lat)), lat, lon)),
                                 "i bigint, lat double, lon double")


def _expected(fn, lat, lon, *args) -> list:
    """numpy ids, NULL (a NaN input) as -1 and -1 as None."""
    lat, lon = np.asarray(lat, dtype=float), np.asarray(lon, dtype=float)
    return [None if c == -1 else int(c) for c in fn(lat, lon, *args)]


def test_assign_tiles_matches_numpy_on_adversarial_points(spark):
    lat, lon = adversarial_points()
    df = _frame(spark, lat, lon)
    out = assign_tiles(df)
    assert out.columns == ["i", "lat", "lon"] + [f"h3_r{r}" for r in RESOLUTIONS]
    rows = sorted(out.collect())
    assert len(rows) == len(lat)
    for res in RESOLUTIONS:
        got = [r[f"h3_r{res}"] for r in rows]
        want = _expected(hx.latlon_to_cell, lat, lon, res)
        bad = [i for i, (g, w) in enumerate(zip(got, want)) if g != w]
        assert not bad, (res, [(lat[i], lon[i], got[i], want[i]) for i in bad[:5]])


def test_assign_tiles_s2_only_and_empty(spark):
    lat, lon = adversarial_points()
    lat, lon = lat[:2000], lon[:2000]
    out = assign_tiles(_frame(spark, lat, lon), resolutions=(), s2_level=12)
    assert out.columns == ["i", "lat", "lon", "s2_cell"]
    got = [r.s2_cell for r in sorted(out.collect())]
    want = s2.s2_cell(np.asarray(lat, dtype=float), np.asarray(lon, dtype=float), 12)
    assert got == want.tolist()  # S2 marks invalid points -1, not NULL

    empty = assign_tiles(spark.createDataFrame([], "lat double, lon double"))
    assert empty.count() == 0
    assert [f.dataType.simpleString() for f in empty.schema.fields[2:]] == ["bigint"] * 5


def max_method_bytes(df) -> list[int]:
    """Largest method, in bytes of bytecode, of every whole-stage codegen
    subtree of ``df``'s executed plan (compiled the way Spark compiles it)."""
    jvm = df.sparkSession._jvm
    compile_ = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compile
    sizes, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        plan = stack.pop()
        name = plan.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            plan.executeCollect()  # AQE adds the codegen stages as it runs
            stack.append(plan.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(plan.plan())
            continue
        if name == "WholeStageCodegenExec":
            sizes.append(compile_(plan.doCodeGen()._2())._2().maxMethodCodeSize())
        children = plan.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return sizes


@pytest.fixture(scope="module")
def points(spark):
    """Nullable double columns, as a parquet scan gives them."""
    rng = np.random.default_rng(1)
    return spark.createDataFrame(pd.DataFrame(
        {"lat": rng.uniform(-90, 90, 100), "lon": rng.uniform(-180, 180, 100)}))


@pytest.mark.parametrize("resolutions", [RESOLUTIONS, (5,)], ids=["r5-r9", "r5"])
def test_assign_tiles_methods_fit_the_jit_limit(spark, points, resolutions):
    sizes = max_method_bytes(assign_tiles(points, resolutions=resolutions))
    assert sizes and max(sizes) <= JIT_LIMIT, sizes


def test_non_nullable_input_and_join_consumer_fit_the_jit_limit(spark, points):
    """A join on a cell column pushes ``cell IS NOT NULL`` below the cell
    projections, where Catalyst substitutes the whole cell expression; it
    must fold to the validity test. Non-nullable inputs (rasterize's pixel
    centres) must not let the raw id be inlined into a conditional branch."""
    keys = spark.range(10).selectExpr("id AS h3_r7")
    pixels = spark.range(100).selectExpr("CAST(id AS DOUBLE) - 50.0D AS lat",
                                         "CAST(id AS DOUBLE) * 3.0D AS lon")
    for df in (assign_tiles(points).join(keys, "h3_r7"),
               assign_tiles(pixels),
               assign_tiles(pixels, resolutions=(5,))):
        sizes = max_method_bytes(df)
        assert sizes and max(sizes) <= JIT_LIMIT, sizes


def analysed_expression_nodes(df) -> int:
    """Expression-tree nodes over every operator of ``df``'s analysed plan
    (an expression's treeString prints one line per node)."""
    count, stack = 0, [df._jdf.queryExecution().analyzed()]
    while stack:
        plan = stack.pop()
        exprs = plan.expressions()
        count += sum(exprs.apply(i).treeString().count("\n") for i in range(exprs.size()))
        children = plan.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return count


# r5-r9 analyse to 1,305 nodes with the fractional axial coordinates as
# columns of their own, and to 4,839 when each raw id inlines them.
ANALYSED_NODES_BOUND = 2_500


def test_assign_tiles_analysed_plan_stays_small(spark, points):
    """The driver analyses every expression node of the plan again on each
    DataFrame call, on every pass; a raw id that inlines its rotated
    coordinates at each of their repeats triples the plan."""
    assert analysed_expression_nodes(assign_tiles(points)) <= ANALYSED_NODES_BOUND
