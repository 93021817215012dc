"""HX grid correctness: numpy kernel == generated SQL on DuckDB == Spark.

Mirrors the reference's table-driven unit style (pkg/parser/scanner_test.go)
plus determinism fixtures (FIXTURES.md): same input at two engines and two
partition counts must produce identical cell ids.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from core_spark.functions import hexgrid as hx

RNG = np.random.default_rng(42)
LAT = RNG.uniform(-85, 85, 5000)
LON = RNG.uniform(-180, 180, 5000)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.register("pts", pd.DataFrame({"lat": LAT, "lon": LON}))
    return c


@pytest.mark.parametrize("res", list(range(0, 16)))
def test_sql_matches_numpy_on_duckdb(con, res):
    got = con.sql(
        "SELECT " + hx.sql_cell("lat", "lon", res) + " AS c FROM pts"
    ).fetchnumpy()["c"]
    expect = hx.latlon_to_cell(LAT, LON, res)
    assert (got == expect).all()


@pytest.mark.parametrize("res", [5, 9, 12])
def test_parent_sql_matches_numpy(con, res):
    child = hx.latlon_to_cell(LAT, LON, res)
    con.register("child_cells", pd.DataFrame({"cell": child}))
    got = con.sql(
        "SELECT " + hx.sql_cell_to_parent("cell") + " AS p FROM child_cells"
    ).fetchnumpy()["p"]
    assert (got == hx.cell_to_parent(child)).all()


@pytest.mark.parametrize("res", [2, 6, 9, 12])
def test_every_parent_has_exactly_seven_children(res):
    cells = np.unique(hx.latlon_to_cell(LAT[:400], LON[:400], res))
    for c in cells[:30]:
        ch = hx.cell_to_children(int(c))
        assert len(ch) == 7
        assert (hx.cell_to_parent(ch) == c).all()


@pytest.mark.parametrize("res", [5, 8, 12])
def test_parent_agreement_rate(res):
    """parent(cell(p, n)) == cell(p, n-1) for the vast majority of points.

    Mismatches only at parent-boundary straddles — the same documented
    behavior as H3's cellToParent.
    """
    direct = hx.latlon_to_cell(LAT, LON, res - 1)
    via = hx.cell_to_parent(hx.latlon_to_cell(LAT, LON, res))
    assert (direct == via).mean() > 0.85


@pytest.mark.parametrize("res", [0, 3, 7, 10, 14])
def test_center_round_trip(res):
    cells = np.unique(hx.latlon_to_cell(LAT[:2000], LON[:2000], res))
    clat, clon = hx.cell_to_center(cells)
    # cells straddling the antimeridian seam have centers that wrap to the
    # other side of the cut plane — exclude them (documented limitation of
    # the equirectangular lattice; H3 proper avoids this via the sphere)
    inland = np.abs(clon) < 180.0 - 2.0 * hx.SIZES[res]
    assert inland.mean() > 0.8
    assert (hx.latlon_to_cell(clat[inland], clon[inland], res) == cells[inland]).all()


def test_kring_counts_and_uniqueness():
    c0 = int(hx.latlon_to_cell(np.array([40.7]), np.array([-74.0]), 8)[0])
    for k in (0, 1, 2, 5, 10):
        ring = hx.kring(c0, k)
        assert len(ring) == 1 + 3 * k * (k + 1)
        assert len(np.unique(ring)) == len(ring)
        assert ring[0] == c0


def test_neighbor_center_distance_is_sqrt3_size():
    c0 = int(hx.latlon_to_cell(np.array([40.7]), np.array([-74.0]), 8)[0])
    ring1 = hx.kring(c0, 1)[1:]
    clat0, clon0 = hx.cell_to_center(np.array([c0] * 6))
    rlat, rlon = hx.cell_to_center(ring1)
    d = np.hypot(rlat - clat0, rlon - clon0)
    assert np.allclose(d, np.sqrt(3) * hx.SIZES[8], rtol=1e-9)


def test_boundary_vertices_enclose_center():
    c0 = int(hx.latlon_to_cell(np.array([-33.9]), np.array([18.4]), 7)[0])
    verts = hx.cell_to_boundary(c0)
    assert len(verts) == 6
    clat, clon = hx.cell_to_center(np.array([c0]))
    vlat = np.array([v[0] for v in verts])
    vlon = np.array([v[1] for v in verts])
    # center inside the vertex bounding box, vertices at circumradius
    assert vlat.min() < clat[0] < vlat.max()
    assert vlon.min() < clon[0] < vlon.max()
    d = np.hypot(vlat - clat[0], vlon - clon[0])
    assert np.allclose(d, hx.SIZES[7], rtol=1e-9)


def test_cell_ids_positive_and_res_recoverable():
    for res in (0, 9, 15):
        cells = hx.latlon_to_cell(LAT, LON, res)
        assert (cells > 0).all()
        got_res, _, _ = hx.cell_to_qr(cells)
        assert (got_res == res).all()


def test_edge_lengths_match_h3_scale():
    # published H3 edge lengths: r5 ~8.5km, r7 ~1.2km, r9 ~174m
    assert 7000 < hx.edge_length_m(5) < 10000
    assert 1000 < hx.edge_length_m(7) < 1500
    assert 150 < hx.edge_length_m(9) < 200


def test_invalid_coords_become_null_in_sql_and_minus1_in_numpy():
    rows = duckdb.sql(
        "SELECT " + hx.sql_cell("lat", "lon", 7) + " AS c FROM (VALUES "
        "(CAST('nan' AS DOUBLE), 0.0), (NULL, 5.0), (95.0, 0.0), (-95.0, 0.0)"
        ") AS t(lat, lon)"
    ).fetchall()
    assert all(r[0] is None for r in rows)
    got = hx.latlon_to_cell(np.array([np.nan, 95.0, -95.0]), np.zeros(3), 7)
    assert (got == -1).all()


def test_antimeridian_wraps_to_same_cell():
    rows = duckdb.sql(
        "SELECT " + hx.sql_cell("lat", "lon", 7) + " AS c FROM (VALUES "
        "(10.0, 180.0), (10.0, -180.0), (10.0, 540.0)) AS t(lat, lon)"
    ).fetchall()
    assert rows[0][0] == rows[1][0] == rows[2][0] is not None
    c = hx.latlon_to_cell(np.array([10.0, 10.0, 10.0]), np.array([180.0, -180.0, 540.0]), 7)
    assert c[0] == c[1] == c[2] != -1


def test_spark_null_and_nan_coords(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(float("nan"), 0.0), (None, 5.0), (95.0, 0.0), (40.7, -74.0)],
        "lat double, lon double",
    )
    out = df.select(F.expr(hx.sql_cell("lat", "lon", 7)).alias("c")).collect()
    assert out[0]["c"] is None and out[1]["c"] is None and out[2]["c"] is None
    expect = int(hx.latlon_to_cell(np.array([40.7]), np.array([-74.0]), 7)[0])
    assert out[3]["c"] == expect


def test_spark_matches_numpy(spark):
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"lat": LAT[:3000], "lon": LON[:3000]})
    df = spark.createDataFrame(pdf)
    out = df.select(
        *[F.expr(hx.sql_cell("lat", "lon", r)).alias(f"h{r}") for r in (5, 7, 9)]
    ).toPandas()
    for r in (5, 7, 9):
        assert (out[f"h{r}"].values == hx.latlon_to_cell(pdf.lat.values, pdf.lon.values, r)).all()


def test_spark_plan_has_no_python_udf(spark):
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        (F.col("id") * 0.001).alias("lat"), (F.col("id") * 0.002).alias("lon")
    )
    plan = (
        df.select(F.expr(hx.sql_cell("lat", "lon", 7)))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "BatchEval" not in plan


class TestCompactCells:
    def _gen_cells(self, n=700):
        # filled 50-wide axial box at r9 (same rule as the driver query)
        from core_spark.functions.hexgrid import qr_to_id

        return [
            int(qr_to_id(i % 50, i // 50, 9)) for i in range(n)
        ]

    @pytest.mark.spark
    def test_compact_roundtrip_exact_cover(self, spark):
        """Expanding every compacted cell back to r9 children reproduces
        the input set exactly — compaction changes representation, never
        coverage."""
        import numpy as np

        from core_spark.functions.hexgrid import cell_to_children, cell_to_qr
        from core_spark.operators.tiles import compact_cells

        cells = self._gen_cells()
        df = spark.createDataFrame([(c,) for c in cells], "cell long")
        got = [r["cell"] for r in compact_cells(df, 9, 5).collect()]
        assert len(got) < len(cells)  # something actually promoted

        def expand(cell):
            res = int(np.asarray(cell_to_qr(cell)[0]).item())
            if res == 9:
                return [cell]
            out = []
            for ch in cell_to_children(int(cell)):
                out.extend(expand(int(ch)))
            return out

        expanded = sorted(c for cell in got for c in expand(cell))
        assert expanded == sorted(cells)

    @pytest.mark.spark
    def test_compact_no_ancestor_overlap(self, spark):
        from core_spark.functions.hexgrid import cell_to_parent, cell_to_qr
        from core_spark.operators.tiles import compact_cells

        df = spark.createDataFrame(
            [(c,) for c in self._gen_cells()], "cell long"
        )
        got = {r["cell"] for r in compact_cells(df, 9, 5).collect()}
        for cell in got:
            cur = cell
            res = int(cell_to_qr(cell)[0].item())
            for _ in range(res - 5):
                cur = int(cell_to_parent(cur).item())
                assert cur not in got  # no cell is another's ancestor

    @pytest.mark.spark
    def test_compact_sparse_is_identity(self, spark):
        from core_spark.functions.hexgrid import qr_to_id
        from core_spark.operators.tiles import compact_cells

        # cells spaced 10 apart: no 7-family ever completes
        cells = [int(qr_to_id(10 * i, 0, 9)) for i in range(20)]
        df = spark.createDataFrame([(c,) for c in cells], "cell long")
        got = sorted(r["cell"] for r in compact_cells(df, 9, 5).collect())
        assert got == sorted(cells)

    @pytest.mark.spark
    def test_compact_empty(self, spark):
        from core_spark.operators.tiles import compact_cells

        df = spark.createDataFrame([], "cell long")
        assert compact_cells(df, 9, 5).count() == 0
