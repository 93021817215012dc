"""Edge probes from .claude/skills/verify: NaN/NULL coords, |lat|>90,
lon ±180/540 wrap, res bounds, empty inputs — error-as-data everywhere
(a bad row must never fail a 10^12-row stage)."""

from __future__ import annotations

import re

import numpy as np
import pytest

from core_spark.data.polygons import admin_polygons
from core_spark.functions import hexgrid as hx


class TestHexgridProbes:
    def test_invalid_coords_yield_minus_one(self):
        lat = np.array([np.nan, 91.0, -91.0, 0.0, np.inf])
        lon = np.array([0.0, 0.0, 0.0, np.nan, 10.0])
        cells = hx.latlon_to_cell(lat, lon, 7)
        assert cells[:4].tolist() == [-1, -1, -1, -1]
        assert cells[4] == -1  # inf lon

    def test_lon_wrap_180_and_540(self):
        a = hx.latlon_to_cell(np.array([10.0]), np.array([180.0]), 6)
        b = hx.latlon_to_cell(np.array([10.0]), np.array([-180.0]), 6)
        c = hx.latlon_to_cell(np.array([10.0]), np.array([540.0]), 6)
        assert a[0] == b[0] == c[0]

    def test_res_bounds(self):
        with pytest.raises(ValueError):
            hx.sql_cell("lat", "lon", 16)
        with pytest.raises(ValueError):
            hx.with_cells(None, "lat", "lon", {"c": -1})


@pytest.mark.spark
class TestSparkProbes:
    def test_sql_cell_nulls_invalid(self, spark):
        df = spark.createDataFrame(
            [(1, float("nan"), 0.0), (2, 95.0, 0.0), (3, None, 5.0), (4, 10.0, 540.0)],
            "id bigint, lat double, lon double",
        )
        out = {
            r.id: r.cell
            for r in df.selectExpr("id", f"{hx.sql_cell('lat','lon',6)} AS cell").collect()
        }
        assert out[1] is None and out[2] is None and out[3] is None
        # 540 wraps to 180 -> valid cell
        want = int(hx.latlon_to_cell(np.array([10.0]), np.array([540.0]), 6)[0])
        assert out[4] == want

    def test_empty_inputs_all_operators(self, spark):
        from pyspark.sql import functions as F

        from core_spark.functions.extract import with_extracted_text
        from core_spark.functions.fused import fused_pipeline
        from core_spark.functions.geoparse import with_mentions
        from core_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from core_spark.operators.pip import pip_join
        from core_spark.operators.tiles import assign_tiles
        from core_spark.operators.zonal import zonal_rollup

        empty_docs = spark.createDataFrame(
            [], "doc_id bigint, url string, html binary, lang string, text string"
        )
        polys = admin_polygons(8)
        assert with_extracted_text(empty_docs).count() == 0
        assert with_mentions(empty_docs, key_cols=("doc_id",)).count() == 0
        assert fused_pipeline(empty_docs, polys).count() == 0
        pts = spark.createDataFrame([], "doc_id bigint, lat double, lon double, lang string")
        tiled = assign_tiles(pts, resolutions=(5,))
        assert tiled.count() == 0
        assert pip_join(pts, polys).count() == 0
        assert zonal_rollup(tiled, cell_col="h3_r5").count() == 0
        docs = spark.createDataFrame([], "doc_id bigint, text string")
        assert exact_dedup(docs).count() == 0
        assert minhash_lsh_pairs(docs, n_perm=4, bands=2).count() == 0

    def test_salted_counts_is_one_shuffle_with_a_partial_count(self, spark):
        from core_spark.operators.zonal import salted_counts

        # cell 0 holds 90% of the rows, spread over 6 input partitions
        df = spark.range(0, 6_000, numPartitions=6).selectExpr(
            "id AS point_id", "IF(id % 10 = 0, id % 7 + 1, 0) AS cell")
        got = salted_counts(df, "cell", salt_src="point_id")
        want = df.groupBy("cell").count().withColumnRenamed("count", "doc_count")
        assert got.dtypes == want.dtypes == [("cell", "bigint"), ("doc_count", "bigint")]
        assert sorted(got.collect()) == sorted(want.collect())
        plan = got._jdf.queryExecution().executedPlan()
        final = plan.executedPlan().toString()  # the adaptive plan after the collect
        assert "isFinalPlan=true" in plan.toString()
        assert len(re.findall(r"Exchange hashpartitioning", final)) == 1, final
        below = final[final.index("Exchange hashpartitioning"):]
        assert re.search(r"HashAggregate\(keys=\[cell#\d+L\], functions=\[partial_count\(1\)\]",
                         below), final

    def test_null_text_and_html_rows_survive(self, spark):
        from core_spark.functions.extract import with_extracted_text
        from core_spark.operators.dedup import with_simhash

        df = spark.createDataFrame(
            [(1, None), (2, bytearray(b"<p>ok</p>"))], "doc_id bigint, html binary"
        )
        out = {r.doc_id: r for r in with_extracted_text(df).collect()}
        assert out[1].text is None and out[1].extract_error == "null_html"
        assert out[2].text == "ok"

        tdf = spark.createDataFrame([(1, None), (2, "a b")], "doc_id bigint, text string")
        rows = {r.doc_id: r.simhash for r in with_simhash(tdf).collect()}
        assert rows[1] is None and rows[2] is not None


@pytest.mark.spark
class TestCurationEdges:
    def test_curation_gates_null_empty_whitespace(self, spark):
        """NULL, empty, and whitespace-only text must be gated out without
        error; a real English doc survives with dup_count 1."""
        import core_spark.operators.dedup as dd
        from core_spark.functions.hexgrid import apply_steps
        from core_spark.functions.textstats import lang_id_steps, spark_quality_cols

        df = spark.createDataFrame(
            [(1, None), (2, ""), (3, "   \t\n "),
             (4, "the cat and the dog sat on the mat together")],
            "doc_id bigint, text string",
        )
        cols = spark_quality_cols("text")
        gated = df.selectExpr(
            "doc_id", "text",
            f"{cols['n_tokens']} AS n_tokens",
            f"{cols['alpha_ratio']} AS alpha_ratio",
            f"{cols['digit_ratio']} AS digit_ratio",
        ).filter(
            "n_tokens >= 5 AND alpha_ratio >= 0.5 AND digit_ratio <= 0.3"
        )
        gated = (
            apply_steps(gated, lang_id_steps("text"))
            .filter("lang_pred = 'en'")
            .drop("lang_pred")
        )
        out = sorted((r.doc_id, r.dup_count) for r in dd.exact_dedup(gated).collect())
        assert out == [(4, 1)]

    def test_dedup_family_empty_inputs(self, spark):
        """Empty tables flow through every pair generator and the star
        contraction without error (0 rows out, no non-convergence raise)."""
        import core_spark.operators.dedup as dd

        empty = spark.createDataFrame([], "doc_id bigint, text string")
        assert dd.ngram_jaccard_pairs(empty, k=3, threshold=0.5).count() == 0
        assert dd.minhash_lsh_pairs(empty, k=2, n_perm=8, bands=4).count() == 0
        pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
        assert dd.connected_components(pairs).count() == 0
