"""Fused single-stage pipeline must equal the staged pipeline row-for-row,
and its batch kernels must equal a per-doc reference at any batch split."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from core_spark.data import synth
from core_spark.data.polygons import admin_polygons
from core_spark.functions import hexgrid as hx
from core_spark.functions.extract import MAX_HTML_BYTES, html_to_text
from core_spark.functions.fused import RESOLUTIONS, fused_batch
from core_spark.functions.geoparse import mentions_frame, parse_mentions
from core_spark.operators.pip import match_points, polygon_payload

KEYS = ["doc_id", "url", "lang"]
MENTION_COLS = KEYS + ["mention_idx", "lat", "lon", "kind", "start_byte", "end_byte"]
# Small splits call the kernel once per batch, so they run over a prefix.
SPLITS = ((1, 300), (7, 300), (1000, None), (10_000, None))


@pytest.fixture(scope="module")
def docs():
    edge = pd.DataFrame({
        "doc_id": np.array([-1, -2, -3, -4], dtype=np.int64),
        "url": ["none", "oversize", "empty", "plain"],
        "lang": ["xx"] * 4,
        "html": [None, b"1.5, 2.5 " * (MAX_HTML_BYTES // 9 + 1), b"", b"<p>no coords</p>"],
    })
    pdf = synth.webpages_pandas(10_500)[KEYS + ["html"]]
    out = pd.concat([edge, pdf], ignore_index=True)
    out["text"] = [html_to_text(h) for h in out["html"]]
    return out


def _batches(pdf, size, prefix):
    pdf = pdf.iloc[:prefix]
    return [pdf.iloc[s:s + size] for s in range(0, len(pdf), size)]


def _assert_same(got, want):
    if len(want) == 0:  # an empty frame's column dtypes carry no rows
        assert len(got) == 0 and list(got.columns) == list(want.columns)
    else:
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want)


def _mentions_reference(pdf):
    """with_mentions' batch, doc by doc: parse_mentions, one row per mention."""
    rows = []
    for j, text in enumerate(pdf["text"]):
        kvals = tuple(pdf[k].iloc[j] for k in KEYS)
        for i, m in enumerate(parse_mentions(text)):
            rows.append(kvals + (i, m["lat"], m["lon"], m["kind"], m["start"], m["end"]))
    return pd.DataFrame(rows, columns=MENTION_COLS)


def _fused_reference(pdf, payload, fp):
    """fused_batch, doc by doc: html_to_text, then parse_mentions."""
    cols = {c: [] for c in ("doc_id", "url", "lang", "mention_idx", "lat", "lon", "kind")}
    for did, url, lang, html in zip(pdf["doc_id"], pdf["url"], pdf["lang"], pdf["html"]):
        for i, m in enumerate(parse_mentions(html_to_text(html))):
            for c, v in zip(cols, (did, url, lang, i, m["lat"], m["lon"], m["kind"])):
                cols[c].append(v)
    lat, lon = np.asarray(cols["lat"], dtype=np.float64), np.asarray(cols["lon"], dtype=np.float64)
    out = dict(cols, doc_id=pd.array(cols["doc_id"], dtype="int64"),
               mention_idx=pd.array(cols["mention_idx"], dtype="int32"), lat=lat, lon=lon)
    for res in RESOLUTIONS:
        cells = hx.latlon_to_cell(lat, lon, res).astype(np.int64)
        out[f"h3_r{res}"] = pd.arrays.IntegerArray(cells, mask=(cells == -1))
    aid = match_points(lon, lat, payload, fp=fp).astype(np.int64)
    out["admin_id"] = pd.arrays.IntegerArray(aid, mask=(aid == -1))
    return pd.DataFrame(out)


class TestBatchKernels:
    def test_mentions_frame_matches_per_doc_reference(self, docs):
        assert sum(not parse_mentions(t) for t in docs["text"]) > 4
        for size, prefix in SPLITS:
            for b in _batches(docs, size, prefix):
                _assert_same(mentions_frame(b, "text", KEYS), _mentions_reference(b))
        _assert_same(mentions_frame(docs.iloc[:0], "text", KEYS),
                     pd.DataFrame([], columns=MENTION_COLS))

    def test_fused_batch_matches_per_doc_reference(self, docs):
        payload, fp = polygon_payload(admin_polygons(96))
        want = _fused_reference(docs.iloc[:1000], payload, fp)
        assert want["admin_id"].notna().any() and want["admin_id"].isna().any()
        for size, prefix in SPLITS:
            for b in _batches(docs, size, prefix):
                _assert_same(fused_batch(b, payload, fp), _fused_reference(b, payload, fp))
        _assert_same(fused_batch(docs.iloc[:0], payload, fp),
                     _fused_reference(docs.iloc[:0], payload, fp))

    def test_fused_batch_null_doc_id(self, docs):
        """Arrow hands a doc_id column with nulls over as float64 with NaN: a
        null id fails on a doc with mentions, as the per-doc reference does,
        and a doc without mentions adds no row either way."""
        payload, fp = polygon_payload(admin_polygons(96))
        b = docs.iloc[:300].astype({"doc_id": np.float64})
        has = np.array([bool(parse_mentions(t)) for t in b["text"]])
        quiet = b.copy()
        quiet.loc[quiet.index[~has][0], "doc_id"] = np.nan
        _assert_same(fused_batch(quiet, payload, fp), _fused_reference(quiet, payload, fp))
        loud = b.copy()
        loud.loc[loud.index[has][0], "doc_id"] = np.nan
        with pytest.raises(ValueError):
            _fused_reference(loud, payload, fp)
        with pytest.raises(ValueError, match="null doc_id"):
            fused_batch(loud, payload, fp)


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
