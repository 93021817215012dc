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
mention_batch, hexgrid.latlon_to_cell, pip.match_points) — byte-identical
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
from core_spark.functions.geoparse import mention_batch, mention_index
from core_spark.operators.pip import match_points, polygon_payload
from core_spark.operators.tiles import RESOLUTIONS

FUSED_SCHEMA = (
    "doc_id bigint, url string, lang string, mention_idx int, "
    "lat double, lon double, kind string, "
    "h3_r5 bigint, h3_r6 bigint, h3_r7 bigint, h3_r8 bigint, h3_r9 bigint, "
    "admin_id bigint"
)


def fused_batch(pdf: pd.DataFrame, payload, payload_fp: int) -> pd.DataFrame:
    """Pure batch kernel: corpus rows -> mention rows with tiles + admin."""
    mb = mention_batch([html_to_text(h) for h in pdf["html"]])
    doc, idx = mention_index(mb.counts)
    lat_a, lon_a = mb.lat, mb.lon
    doc_id = pdf["doc_id"].to_numpy()[doc]
    # Arrow hands a bigint column holding nulls over as float64 with NaN,
    # which a plain cast would turn into INT64_MIN keys.
    if pd.isna(doc_id).any():
        raise ValueError("fused_batch: null doc_id on a document with mentions")
    out = {
        "doc_id": doc_id.astype(np.int64),
        "url": pdf["url"].to_numpy()[doc],
        "lang": pdf["lang"].to_numpy()[doc],
        "mention_idx": idx.astype(np.int32),
        "lat": lat_a,
        "lon": lon_a,
        "kind": mb.kind,
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
