"""G1/G2: byte-identical extraction + geoparse, kernel and Spark paths."""

from __future__ import annotations

import random
import re

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from core_spark.data import synth
from core_spark.functions import geoparse as gp
from core_spark.functions.extract import MAX_HTML_BYTES, extract_batch, html_to_text

PDF = synth.webpages_pandas(1500)


# ---------------------------------------------------------------------- G1

def test_extraction_byte_identical_on_corpus():
    for i in range(len(PDF)):
        assert html_to_text(PDF.html.iloc[i]) == PDF.text.iloc[i]


def test_extraction_deterministic_rerun():
    h = PDF.html.iloc[7]
    assert html_to_text(h) == html_to_text(bytes(h))


@pytest.mark.parametrize(
    "html,expect",
    [
        (b"", ""),
        (b"plain words", "plain words"),
        (b"<p>a</p><p>b</p>", "a b"),
        (b"<script>drop me</script>kept", "kept"),
        (b"<SCRIPT>case</SCRIPT>x<Style>s</style>y", "x y"),
        (b"<!-- c -->z", "z"),
        (b"a&amp;b &lt;tag&gt; &#65;&#x42;", "a&b <tag> AB"),
        (b"&bogus; &#xD800; stays", "&bogus; \xef\xbf\xbd stays".decode() if False else "&bogus; � stays"),
        (b"  lots\t of \n space ", "lots of space"),
        (b"\xff\xfe invalid utf8", "�� invalid utf8"),
        (None, None),
    ],
)
def test_extraction_table_driven(html, expect):
    assert html_to_text(html) == expect


def test_oversize_html_is_error_as_data():
    big = b"x" * (MAX_HTML_BYTES + 1)
    out = extract_batch(pd.Series([big, b"<b>ok</b>", None]))
    assert out.text.iloc[0] is pd.NA or out.text.iloc[0] is None
    assert out.extract_error.iloc[0] == "oversize"
    assert out.text.iloc[1] == "ok"
    assert out.extract_error.iloc[2] == "null_html"


def test_whitespace_collapse_matches_regex_on_every_space_code_point():
    """``" ".join(s.split())`` == ``re.sub(r"\\s+", " ", s).strip()``: both
    sides split on the same code points, mixed here into random strings."""
    spaces = [
        ch for ch in map(chr, range(0x110000))
        if ch.isspace() or re.fullmatch(r"\s", ch)
    ]
    assert " " in spaces and "\u3000" in spaces
    rng = random.Random(5)
    alphabet = spaces + ["a", "b", "\u00e9", "x"]
    for _ in range(20000):
        s = "".join(rng.choices(alphabet, k=rng.randrange(12)))
        assert html_to_text(s.encode()) == re.sub(r"\s+", " ", s).strip()


# ---------------------------------------------------------------------- G2

def test_geoparse_counts_and_first_mention_exact():
    for i in range(len(PDF)):
        ms = gp.parse_mentions(PDF.text.iloc[i])
        assert len(ms) == int(PDF.n_mentions.iloc[i])
        if ms:
            assert ms[0]["lat"] == PDF.true_lat.iloc[i]
            assert ms[0]["lon"] == PDF.true_lon.iloc[i]


@pytest.mark.parametrize(
    "text,expect",
    [
        ("at 40.712800, -74.006000 x", [(40.7128, -74.006, "dec")]),
        ("geo:12.500000,99.900000", [(12.5, 99.9, "geo")]),
        ('40°26\'46.0"N 79°58\'56.0"W', [(40.0 + 26 / 60 + 46 / 3600, -(79 + 58 / 60 + 56 / 3600), "dms")]),
        ("95.000000, 10.000000 invalid lat", []),
        ("10.000000, 195.000000 invalid lon", []),
        ("no coords here", []),
        ("", []),
        (None, []),
    ],
)
def test_geoparse_table_driven(text, expect):
    got = [(m["lat"], m["lon"], m["kind"]) for m in gp.parse_mentions(text)]
    assert got == expect


def test_geoparse_offsets_slice_back():
    t = "pre 1.500000, 2.500000 post"
    m = gp.parse_mentions(t)[0]
    assert t[m["start"] : m["end"]] == "1.500000, 2.500000"


def _mentions_without_prefilter(text):
    """Reference model: every pattern scanned on every text."""
    out = []
    for kind, rx in (("dec", gp._RE_DEC), ("geo", gp._RE_GEO), ("dms", gp._RE_DMS)):
        for mt in rx.finditer(text or ""):
            if kind == "dec" and text[max(0, mt.start() - 4) : mt.start()] == "geo:":
                continue
            if kind == "dms":
                lat = gp.dms_to_decimal(*mt.group(1, 2, 3, 4))
                lon = gp.dms_to_decimal(*mt.group(5, 6, 7, 8))
            else:
                lat, lon = float(mt.group(1)), float(mt.group(2))
            if abs(lat) <= 90.0 and abs(lon) <= 180.0:
                out.append({"lat": lat, "lon": lon, "kind": kind,
                            "start": mt.start(), "end": mt.end()})
    out.sort(key=lambda r: (r["start"], r["kind"]))
    return out


# Each literal the prefilter tests, with and without a full match around it.
_PREFILTER_PIECES = [
    "12.5, -7.25", "-89.999999, 179.5", "a, b", ", ", "1.5, x",
    "geo:40.1,-3.2", "geo:40.1, -3.2", "geo:", "geo:1.2", "geo:91.0,0.0",
    '40°26\'46.0"N 79°58\'56.0"W', '1°2\'3"S 4°5\'6.5"E', "°", "40°26\'",
    "text", " ", "9.0", ",",
]


def test_parse_mentions_prefilter_matches_reference():
    rng = random.Random(7)
    seen = {lit: [False, False] for lit in (", ", "geo:", "°")}
    for _ in range(3000):
        text = "".join(rng.choices(_PREFILTER_PIECES, k=rng.randrange(1, 8)))
        got, want = gp.parse_mentions(text), _mentions_without_prefilter(text)
        assert got == want, text
        kinds = {m["kind"] for m in want}
        for lit, kind in ((", ", "dec"), ("geo:", "geo"), ("°", "dms")):
            if lit in text:
                seen[lit][kind in kinds] = True
    assert all(all(v) for v in seen.values()), seen


# Adversarial pieces for the anchored scans: digit runs past group 1's 10
# characters, ", " near either end, chained candidates, decimal pairs after
# "geo:", "°" without a match, "-" runs, non-ASCII (incl. U+3000).
_ADVERSARIAL = st.lists(
    st.one_of(
        st.sampled_from([
            ", ", ",", " ", "1.5, 2.5", "1.5, 2.5, 3.5", "-1.5, -2.5, -3.5, -4.5",
            "-89.999999, -179.999999", "geo:1.5, 2.5", "geo:1.5,2.5", "geo:", "°", "°°",
            "12°", "1°2'3\"N", '40°26\'46.0"N 79°58\'56.0"W', '1°2\'3"S 4°5\'6.5"E',
            "---", "-", ".", "..", "\u3000", "é", "中", "N ", "E",
        ]),
        st.text(alphabet="0123456789", min_size=11, max_size=24),
        st.from_regex(r"-?[0-9]{1,3}[.][0-9]{1,7}", fullmatch=True),
        st.text(alphabet="0123456789.-", min_size=1, max_size=14),
        st.text(alphabet="0123456789.-, °'\"NSEWgeo:\u3000é中", max_size=12),
    ),
    max_size=12,
).map("".join)


@settings(max_examples=600, deadline=None)
@given(_ADVERSARIAL)
def test_parse_mentions_anchored_scan_matches_finditer(text):
    assert gp.parse_mentions(text) == _mentions_without_prefilter(text)


def test_sql_dec_mentions_duckdb_matches_kernel():
    con = duckdb.connect()
    con.register("docs", PDF[["url", "text"]])
    lat_sql, lon_sql = gp.sql_dec_mentions("text")
    out = con.sql(
        f"SELECT url, {lat_sql} AS lats, {lon_sql} AS lons FROM docs"
    ).df()
    for i in range(len(out)):
        kernel = [m for m in gp.parse_mentions(PDF.text.iloc[i]) if m["kind"] == "dec"]
        got = [(float(a), float(b)) for a, b in zip(out.lats.iloc[i], out.lons.iloc[i])]
        assert got == [(m["lat"], m["lon"]) for m in kernel]


# ------------------------------------------------------------------- synth

def test_synth_partition_independent():
    a = synth.gen_batch(np.arange(100, 200, dtype=np.uint64))
    b = pd.concat(
        [synth.gen_batch(np.arange(100, 150, dtype=np.uint64)),
         synth.gen_batch(np.arange(150, 200, dtype=np.uint64))],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(a, b)


def test_synth_mega_cell_skew():
    from core_spark.functions import hexgrid as hx

    pdf = synth.webpages_pandas(5000)
    g = pdf[pdf.n_mentions > 0]
    cells = hx.latlon_to_cell(g.true_lat.values, g.true_lon.values, 7)
    counts = pd.Series(cells).value_counts()
    # three urban centers -> a handful of mega cells holding >= 20% of docs
    assert counts.iloc[:6].sum() / len(g) > 0.2
    assert counts.iloc[0] > 20 * counts.iloc[10]


# ------------------------------------------------------------------- Spark

def test_spark_pipeline_extract_geoparse_tiles(spark):
    from pyspark.sql import functions as F

    from core_spark.data.synth import webpages_spark
    from core_spark.functions.extract import with_extracted_text
    from core_spark.operators.tiles import assign_tiles
    from core_spark.operators.zonal import zonal_rollup

    web = webpages_spark(spark, 400, partitions=8)
    truth = {r["url"]: r["text"] for r in web.select("url", "text").collect()}

    # run extraction from html only (drop the ground-truth column first)
    ext = with_extracted_text(web.drop("text"), html_col="html")
    got = {r["url"]: r["text"] for r in ext.select("url", "text").collect()}
    assert got == truth
    assert ext.filter(F.col("extract_error").isNotNull()).count() == 0

    mentions = gp.with_mentions(ext, text_col="text", key_cols=("url",))
    tiled = assign_tiles(mentions, "lat", "lon", resolutions=(5, 7, 9))
    rows = tiled.filter("mention_idx = 0").collect()
    from core_spark.functions import hexgrid as hx

    by_url = {r["url"]: r for r in rows}
    pdf = synth.webpages_pandas(400)
    geo = pdf[pdf.n_mentions > 0]
    assert set(by_url) == set(geo.url)
    expect7 = hx.latlon_to_cell(geo.true_lat.values, geo.true_lon.values, 7)
    for u, e in zip(geo.url, expect7):
        assert by_url[u]["h3_r7"] == e

    z = zonal_rollup(tiled, cell_col="h3_r7", lang_col="kind").collect()
    assert sum(r["doc_count"] for r in z) == tiled.count()
    for r in z[:5]:
        assert sum(r["lang_counts"].values()) == r["doc_count"]
