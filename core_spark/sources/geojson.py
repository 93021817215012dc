"""GeoJSON source (RFC 7946): parse features into the engine's ring model.

The geospatial counterpart of the WARC source: admin boundaries, zone
polygons, and POI directories ship as GeoJSON, and the PIP/zonal/kNN
operators need them as (id, rings) tables. This module parses GeoJSON
text — a FeatureCollection, a bare Feature, or a bare geometry object —
into one row per geometry PART with typed columns and error-as-data
rows for everything malformed (the scanner.go config-parse convention:
a bad feature yields an error row, never a crash, and never silently
drops healthy features in the same document).

Geometry support is scoped to the types the spatial operators consume:
``Point`` (one row, lon/lat columns), ``Polygon`` (one row, outer ring
+ holes in ``rings``), ``MultiPolygon`` (one row PER polygon part,
``part_ix`` ordinal). Other RFC types (LineString, GeometryCollection,
…) surface as error rows naming the type. RFC constraints enforced as
errors: a linear ring MUST close (first == last position) and MUST
hold >= 4 positions. The right-hand winding rule is RFC "SHOULD" —
accepted either way, like every real-world reader. Coordinates are
(lon, lat) per the RFC; ``rings`` preserves that order and feeds
``operators/pip.py`` payloads directly.

Properties are flattened to map<string,string> (scalars via their JSON
text form), so downstream SQL extracts typed ids with one element_at +
cast — no nested-schema inference, which real-world GeoJSON (ragged
properties) routinely breaks.

Plumbing: ``parse_geojson`` parses a (src, geojson) text table in ONE
Arrow-batched stage (stdlib ``json`` — GeoJSON's heterogeneous
coordinate nesting has no single Spark schema, the same reason the WARC
grammar is Python-side). At scale a polygon directory is host-bounded
like robots/sitemaps: the directory pays the parse, the point corpus
never does.

No reference counterpart (specvital/core has no spatial subsystem);
semantics follow RFC 7946 (published August 2016).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

_SCHEMA = (
    "src string, feature_ix bigint, fid string, geom_type string,"
    " props map<string,string>, lon double, lat double, part_ix bigint,"
    " rings array<array<array<double>>>, error string"
)

_ERR_JSON = "invalid json"
_ERR_NO_GEOM = "missing geometry"
_ERR_UNCLOSED = "ring not closed"
_ERR_SHORT = "ring too short"
_ERR_POSITION = "invalid position"


def _is_pos(p) -> bool:
    return (
        isinstance(p, list)
        and len(p) >= 2
        and all(
            isinstance(c, (int, float)) and not isinstance(c, bool)
            for c in p[:2]
        )
    )


def _props(feature: dict) -> dict | None:
    raw = feature.get("properties")
    if not isinstance(raw, dict):
        return None
    out = {}
    for k, v in raw.items():
        if isinstance(v, str):
            out[str(k)] = v
        elif v is None:
            out[str(k)] = None
        else:
            out[str(k)] = json.dumps(v)
    return out


def _check_ring(ring) -> str | None:
    if not isinstance(ring, list) or len(ring) < 4:
        return _ERR_SHORT
    # every position must be a [num, num, ...] BEFORE the closure compare:
    # a ring like [1, 2, 3, 1] "closes" but would crash the float pull —
    # error-as-data means malformed content never throws in an executor
    if not all(_is_pos(p) for p in ring):
        return _ERR_POSITION
    if ring[0][:2] != ring[-1][:2]:
        return _ERR_UNCLOSED
    return None


def _ring_f(ring) -> list:
    return [[float(p[0]), float(p[1])] for p in ring]


def _feature_rows(src: str, ix: int, feature: dict):
    """Rows for one feature dict (already JSON-parsed)."""
    fid = feature.get("id")
    fid = None if fid is None else str(fid)
    base = {
        "src": src, "feature_ix": ix, "fid": fid, "geom_type": None,
        "props": None, "lon": None, "lat": None, "part_ix": None,
        "rings": None, "error": None,
    }
    geom = feature.get("geometry") if feature.get("type") == "Feature" \
        else feature
    if not isinstance(geom, dict) or "type" not in geom:
        yield {**base, "error": _ERR_NO_GEOM}
        return
    gtype = geom.get("type")
    props = _props(feature)
    coords = geom.get("coordinates")
    if gtype == "Point":
        if not _is_pos(coords):
            yield {**base, "geom_type": gtype, "error": _ERR_POSITION}
            return
        yield {
            **base, "geom_type": gtype, "props": props,
            "lon": float(coords[0]), "lat": float(coords[1]),
        }
        return
    if gtype == "Polygon":
        parts = [coords]
    elif gtype == "MultiPolygon":
        parts = coords if isinstance(coords, list) else []
    else:
        yield {
            **base, "geom_type": gtype,
            "error": f"unsupported geometry type: {gtype}",
        }
        return
    if not isinstance(parts, list) or not parts:
        yield {**base, "geom_type": gtype, "error": _ERR_NO_GEOM}
        return
    for part_ix, rings in enumerate(parts):
        if not isinstance(rings, list) or not rings:
            yield {
                **base, "geom_type": gtype, "part_ix": part_ix,
                "error": _ERR_NO_GEOM,
            }
            continue
        err = next(
            (e for e in (_check_ring(r) for r in rings) if e), None
        )
        if err:
            yield {
                **base, "geom_type": gtype, "part_ix": part_ix,
                "error": err,
            }
            continue
        yield {
            **base, "geom_type": gtype, "props": props,
            "part_ix": part_ix, "rings": [_ring_f(r) for r in rings],
        }


def _text_rows(src: str, text):
    if text is None:
        yield from _feature_rows(src, 0, {})
        return
    try:
        doc = json.loads(text)
    except (ValueError, TypeError):
        yield {
            "src": src, "feature_ix": None, "fid": None, "geom_type": None,
            "props": None, "lon": None, "lat": None, "part_ix": None,
            "rings": None, "error": _ERR_JSON,
        }
        return
    if isinstance(doc, dict) and doc.get("type") == "FeatureCollection":
        features = doc.get("features")
        features = features if isinstance(features, list) else []
        for ix, f in enumerate(features):
            yield from _feature_rows(src, ix, f if isinstance(f, dict) else {})
        return
    yield from _feature_rows(src, 0, doc if isinstance(doc, dict) else {})


def parse_geojson(
    df: DataFrame, src_col: str = "src", text_col: str = "geojson"
) -> DataFrame:
    """GeoJSON text table -> one row per geometry part (schema above)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = []
            for src, text in zip(pdf[src_col], pdf[text_col]):
                rows.extend(_text_rows(src, text))
            yield pd.DataFrame(
                rows,
                columns=[
                    "src", "feature_ix", "fid", "geom_type", "props",
                    "lon", "lat", "part_ix", "rings", "error",
                ],
            )

    return df.select(src_col, text_col).mapInPandas(run, _SCHEMA)
