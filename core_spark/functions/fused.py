"""The fused flagship kernel: html -> text -> mentions -> tiles -> PIP in ONE
Arrow stage.

Why fused (measured, scripts/scaling_bench.py history): Spark pipelines a
narrow chain of mapInPandas stages into a single task stage with one Python
worker PER PYTHON STAGE chained through the JVM — two back-to-back Python
stages anti-scale (local[32] slower than local[8]) because every task holds
two workers in lock-step batch handoff. Fusing the per-document Python work
into one kernel gives each task exactly one worker; the downstream zonal
rollup stays JVM-side. This is the idiomatic shape for a 10^12-row pipeline:

    scan -> [ONE vectorized Python stage] -> JVM shuffle/agg

The kernel composes the already-golden-tested pure kernels (html_to_text,
parse_mentions, hexgrid.latlon_to_cell, pip.match_points) — byte-identical
results to the staged pipeline, proven in tests/test_fused.py. The staged
(manifest) pipeline never hits the chaining issue because each stage
materializes to parquet (separate jobs); use fused for single-pass
throughput, staged for resumable production runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from core_spark.functions import hexgrid as hx
from core_spark.functions.extract import html_to_text
from core_spark.functions.geoparse import parse_mentions
from core_spark.operators.pip import match_points, polygon_payload

FUSED_SCHEMA = (
    "doc_id bigint, url string, lang string, mention_idx int, "
    "lat double, lon double, kind string, "
    "h3_r5 bigint, h3_r6 bigint, h3_r7 bigint, h3_r8 bigint, h3_r9 bigint, "
    "admin_id bigint"
)

RESOLUTIONS = (5, 6, 7, 8, 9)


def fused_batch(pdf: pd.DataFrame, payload, payload_fp: int) -> pd.DataFrame:
    """Pure batch kernel: corpus rows -> mention rows with tiles + admin."""
    doc_ids, urls, langs, midx, lats, lons, kinds = [], [], [], [], [], [], []
    for did, url, lang, html in zip(
        pdf["doc_id"], pdf["url"], pdf["lang"], pdf["html"]
    ):
        text = html_to_text(html)
        if text is None:
            continue
        for i, m in enumerate(parse_mentions(text)):
            doc_ids.append(did)
            urls.append(url)
            langs.append(lang)
            midx.append(i)
            lats.append(m["lat"])
            lons.append(m["lon"])
            kinds.append(m["kind"])

    lat_a = np.asarray(lats, dtype=np.float64)
    lon_a = np.asarray(lons, dtype=np.float64)
    out = {
        "doc_id": pd.array(doc_ids, dtype="int64"),
        "url": urls,
        "lang": langs,
        "mention_idx": pd.array(midx, dtype="int32"),
        "lat": lat_a,
        "lon": lon_a,
        "kind": kinds,
    }
    for res in RESOLUTIONS:
        cells = hx.latlon_to_cell(lat_a, lon_a, res).astype(np.int64)
        out[f"h3_r{res}"] = pd.arrays.IntegerArray(cells, mask=(cells == -1))
    aid = match_points(lon_a, lat_a, payload, fp=payload_fp).astype(np.int64)
    out["admin_id"] = pd.arrays.IntegerArray(aid, mask=(aid == -1))
    return pd.DataFrame(out)


def fused_pipeline(docs_df, polygons: pd.DataFrame):
    """docs (doc_id,url,html,lang) -> mention rows (FUSED_SCHEMA)."""
    payload, fp = polygon_payload(polygons)

    def run(batches):
        for pdf in batches:
            yield fused_batch(pdf, payload, fp)

    return docs_df.select("doc_id", "url", "lang", "html").mapInPandas(
        run, FUSED_SCHEMA
    )
