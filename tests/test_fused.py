"""Fused single-stage pipeline must equal the staged pipeline row-for-row."""

from __future__ import annotations

import pytest

from core_spark.data import synth
from core_spark.data.polygons import admin_polygons


@pytest.mark.spark
class TestFused:
    def test_fused_equals_staged(self, spark):
        from pyspark.sql import functions as F

        from core_spark.functions.extract import with_extracted_text
        from core_spark.functions.fused import fused_pipeline
        from core_spark.functions.geoparse import with_mentions
        from core_spark.operators.pip import pip_join
        from core_spark.operators.tiles import assign_tiles

        polys = admin_polygons(96)
        docs = synth.webpages_spark(spark, 400, 4).select(
            "doc_id", "url", "warc_ts", "html", "lang"
        )

        fused = (
            fused_pipeline(docs, polys)
            .orderBy("doc_id", "mention_idx")
            .collect()
        )

        extracted = with_extracted_text(docs).filter(F.col("extract_error").isNull())
        mentions = with_mentions(extracted, key_cols=("doc_id", "url", "lang"))
        tiled = assign_tiles(mentions, resolutions=(5, 6, 7, 8, 9))
        staged = (
            pip_join(tiled, polys)
            .select(
                "doc_id", "url", "lang", "mention_idx", "lat", "lon", "kind",
                "h3_r5", "h3_r6", "h3_r7", "h3_r8", "h3_r9", "admin_id",
            )
            .orderBy("doc_id", "mention_idx")
            .collect()
        )
        assert len(fused) > 0
        assert fused == staged
