"""GeoJSON source: RFC 7946 arms, error-as-data, PIP composition."""

from __future__ import annotations

import json

import pytest

from core_spark.sources.geojson import parse_geojson

SQUARE = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
HOLE = [[0.25, 0.25], [0.75, 0.25], [0.75, 0.75], [0.25, 0.75], [0.25, 0.25]]

COLLECTION = json.dumps({
    "type": "FeatureCollection",
    "features": [
        {"type": "Feature", "id": "pt1",
         "properties": {"admin_id": 7, "name": "x", "tags": ["a"]},
         "geometry": {"type": "Point", "coordinates": [2.5, -1.25]}},
        {"type": "Feature",
         "properties": {"admin_id": 8},
         "geometry": {"type": "Polygon", "coordinates": [SQUARE, HOLE]}},
        {"type": "Feature", "id": 3,
         "geometry": {"type": "MultiPolygon", "coordinates": [
             [SQUARE], [[[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 6.0],
                         [5.0, 5.0]]]]}},
        {"type": "Feature",
         "geometry": {"type": "LineString",
                      "coordinates": [[0, 0], [1, 1]]}},
        {"type": "Feature",
         "geometry": {"type": "Polygon", "coordinates": [
             [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]]}},
        {"type": "Feature", "geometry": None},
    ],
})

BARE_FEATURE = json.dumps({
    "type": "Feature",
    "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
})
BARE_GEOMETRY = json.dumps({"type": "Point", "coordinates": [3.0, 4.0]})
SHORT_RING = json.dumps({
    "type": "Polygon",
    "coordinates": [[[0.0, 0.0], [1.0, 0.0], [0.0, 0.0]]],
})

TEXTS = [
    ("coll", COLLECTION),
    ("feat", BARE_FEATURE),
    ("geom", BARE_GEOMETRY),
    ("short", SHORT_RING),
    ("bad", "{not json"),
]


@pytest.fixture(scope="module")
def rows(spark):
    df = spark.createDataFrame(TEXTS, ["src", "geojson"])
    out = parse_geojson(df).collect()
    return out


def _by(rows, src):
    return [r for r in rows if r["src"] == src]


@pytest.mark.spark
def test_point_and_properties(rows):
    pt = [r for r in _by(rows, "coll") if r["feature_ix"] == 0][0]
    assert pt["geom_type"] == "Point"
    assert pt["fid"] == "pt1"
    assert (pt["lon"], pt["lat"]) == (2.5, -1.25)
    # scalar props keep their text form; nested values are JSON-dumped
    assert pt["props"]["admin_id"] == "7"
    assert pt["props"]["name"] == "x"
    assert pt["props"]["tags"] == '["a"]'
    assert pt["rings"] is None and pt["error"] is None


@pytest.mark.spark
def test_polygon_with_hole(rows):
    poly = [r for r in _by(rows, "coll") if r["feature_ix"] == 1][0]
    assert poly["geom_type"] == "Polygon" and poly["part_ix"] == 0
    assert [list(map(list, ring)) for ring in poly["rings"]] == [SQUARE, HOLE]
    assert poly["props"]["admin_id"] == "8"


@pytest.mark.spark
def test_multipolygon_one_row_per_part(rows):
    parts = sorted(
        (r for r in _by(rows, "coll") if r["feature_ix"] == 2),
        key=lambda r: r["part_ix"],
    )
    assert [p["part_ix"] for p in parts] == [0, 1]
    assert parts[0]["fid"] == "3"  # non-string ids stringified
    assert [list(map(list, ring)) for ring in parts[0]["rings"]] == [SQUARE]


@pytest.mark.spark
def test_error_arms(rows):
    coll = _by(rows, "coll")
    errs = {r["feature_ix"]: r for r in coll if r["error"] is not None}
    assert errs[3]["error"] == "unsupported geometry type: LineString"
    assert errs[4]["error"] == "ring not closed"
    assert errs[5]["error"] == "missing geometry"
    assert _by(rows, "short")[0]["error"] == "ring too short"
    bad = _by(rows, "bad")[0]
    assert bad["error"] == "invalid json" and bad["feature_ix"] is None
    # healthy features in the same document still parsed
    assert len([r for r in coll if r["error"] is None]) == 4


@pytest.mark.spark
def test_bare_feature_and_bare_geometry(rows):
    assert (_by(rows, "feat")[0]["lon"], _by(rows, "feat")[0]["lat"]) == (1.0, 2.0)
    assert (_by(rows, "geom")[0]["lon"], _by(rows, "geom")[0]["lat"]) == (3.0, 4.0)


def test_invalid_positions_are_errors_not_crashes():
    """[1, 2, 3, 1] 'closes' but is not a ring of positions — must be an
    error row (executor code must never throw on malformed content)."""
    from core_spark.sources.geojson import _text_rows

    bad_ring = json.dumps(
        {"type": "Polygon", "coordinates": [[1, 2, 3, 1]]}
    )
    rows = list(_text_rows("s", bad_ring))
    assert rows[0]["error"] == "invalid position"
    bad_point = json.dumps({"type": "Point", "coordinates": [True, False]})
    rows = list(_text_rows("s", bad_point))
    assert rows[0]["error"] == "invalid position"


def test_parser_never_raises_fuzz():
    """Any JSON value (and non-JSON text) yields rows, never an exception."""
    from hypothesis import given, settings, strategies as st

    from core_spark.sources.geojson import _text_rows

    json_val = st.recursive(
        st.none() | st.booleans() | st.integers(-5, 5)
        | st.sampled_from([0.5, 1.5])
        | st.sampled_from(
            ["Feature", "FeatureCollection", "Point", "Polygon",
             "MultiPolygon", "LineString", "x"]),
        lambda kids: st.lists(kids, max_size=4)
        | st.dictionaries(
            st.sampled_from(
                ["type", "features", "geometry", "coordinates",
                 "properties", "id", "k"]),
            kids, max_size=5),
        max_leaves=12,
    )

    @settings(max_examples=300, deadline=None)
    @given(json_val | st.text(max_size=20))
    def run(doc):
        text = doc if isinstance(doc, str) else json.dumps(doc)
        rows = list(_text_rows("s", text))
        for r in rows:
            assert (r["error"] is None) or isinstance(r["error"], str)
            if r["rings"] is not None:
                for ring in r["rings"]:
                    for p in ring:
                        assert isinstance(p[0], float)

    run()


@pytest.mark.spark
def test_feeds_pip_payload(spark):
    """Composition: parsed polygon rows ARE the PIP kernel's payload."""
    import numpy as np
    import pandas as pd

    from core_spark.operators.pip import match_points, polygon_payload

    df = spark.createDataFrame([("coll", COLLECTION)], ["src", "geojson"])
    polys = [
        r for r in parse_geojson(df).collect()
        if r["geom_type"] in ("Polygon", "MultiPolygon") and not r["error"]
    ]
    payload = [
        (int(r["props"]["admin_id"]) if r["props"] else 99,
         [[(p[0], p[1]) for p in ring] for ring in r["rings"]])
        for r in polys
    ]
    # (0.5, 0.5) is inside SQUARE's hole -> even-odd says OUTSIDE poly 8,
    # but inside feature 3's first part (admin 99); (0.1, 0.1) is in both
    # 8 and 99 -> lowest-id keeps 8; (5.5, 5.5) only in 99's second part.
    got = match_points(
        np.array([0.5, 0.1, 5.5, 9.0]), np.array([0.5, 0.1, 5.5, 9.0]),
        *polygon_payload(pd.DataFrame(payload, columns=["admin_id", "rings"])),
    )
    assert got.tolist() == [99, 8, 99, -1]
