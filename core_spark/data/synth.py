"""Deterministic synthetic Common-Crawl-style corpus (no external data).

Generates the BASELINE.json input_hint table
    (url string, warc_ts timestamp, html binary, text string, lang string)
plus the admin-polygon table and kNN query points (FIXTURES.md).

Determinism discipline: every field of every row is a pure function of
(doc_id) via a vectorized splitmix64 hash — NO RNG object state — so the
corpus is identical whether generated on the driver (pandas, tests) or on
1000 executors (spark.range().mapInPandas, bench), at any partitioning.
This is the graft analog of the reference's seeded golden corpora
(tests/integration/repos.yaml pins, clone.go:13 completion markers).

The `text` column is the ground-truth extraction output: `html` is composed
AROUND `text` such that core_spark.functions.extract.html_to_text(html)
must reproduce `text` byte-identically (BASELINE.json:15 invariant).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# splitmix64 — vectorized, partition-independent pseudo-randomness
# ---------------------------------------------------------------------------

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


def smix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64(x + salt*golden): uint64 hash, vectorized (wraparound is
    the point — silence numpy's overflow warning)."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(salt) * _GOLD + _GOLD
        z = (z ^ (z >> np.uint64(30))) * _M1
        z = (z ^ (z >> np.uint64(27))) * _M2
        return z ^ (z >> np.uint64(31))


def u01(x: np.ndarray, salt: int) -> np.ndarray:
    """Uniform [0,1) doubles from doc ids."""
    return (smix(x, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


# ---------------------------------------------------------------------------
# Corpus vocabulary / geography
# ---------------------------------------------------------------------------

LANGS = ["en", "de", "fr", "es", "pt", "zh", "ja", "ko", "ru", "ar"]
# zipf-ish cumulative weights
_LANG_CUM = np.cumsum(np.array([0.38, 0.14, 0.11, 0.09, 0.07, 0.06, 0.05, 0.04, 0.03, 0.03]))

WORDS = (
    "river market harbor bridge castle museum station garden temple tower "
    "valley forest canyon plaza district avenue quarter summit coast island "
    "north south east west old new grand little upper lower royal central"
).split()

# Invented gazetteer: 48 places with fixed coordinates (deterministic).
# Names carry a unique fixed-width two-letter code so no name is a substring
# of another (substring scan stays unambiguous).
GAZETTEER = [
    (
        f"{WORDS[(i * 7) % 30].capitalize()}ville {chr(65 + i // 26)}{chr(65 + i % 26)}",
        round(-80.0 + ((i * 37) % 160) + 0.25, 6),
        round(-175.0 + ((i * 53) % 350) + 0.5, 6),
    )
    for i in range(48)
]
GAZ_NAMES = [g[0] for g in GAZETTEER]

# Mega-cells: three "urban" centers that attract ~30% of geotagged docs
# (FIXTURES.md skew requirement — exercises mega-cell skew in the zonal
# aggregates; a decomposable count needs no salt).
MEGA_CENTERS = [(40.7128, -74.0060), (35.6895, 139.6917), (-23.5505, -46.6333)]

_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


# ---------------------------------------------------------------------------
# Row kernels
# ---------------------------------------------------------------------------

def _fmt6(v: float) -> str:
    return f"{v:.6f}"


def _dms(v: float, pos: str, neg: str) -> tuple[str, float]:
    """Decimal degrees -> DMS string + the decimal value it parses back to."""
    hemi = pos if v >= 0 else neg
    a = abs(v)
    d = int(a)
    m = int((a - d) * 60)
    s = round((a - d - m / 60.0) * 3600.0, 1)
    if s >= 60.0:  # carry
        s = 0.0
        m += 1
    if m >= 60:
        m = 0
        d += 1
    parsed = d + m / 60.0 + s / 3600.0
    if hemi in (neg,):
        parsed = -parsed
    return f"{d}°{m}'{s}\"{hemi}", parsed


def gen_batch(doc_ids: np.ndarray) -> pd.DataFrame:
    """Generate corpus rows for the given doc ids (vectorized where it counts).

    Returns columns: doc_id, url, warc_ts, html (bytes), text (str), lang,
    plus ground-truth geo columns for goldens: true_lat, true_lon (first
    coordinate mention, NaN if none), n_mentions.
    """
    ids = np.asarray(doc_ids, dtype=np.uint64)
    n = len(ids)

    host = smix(ids, 1) % np.uint64(1000)
    lang_idx = np.searchsorted(_LANG_CUM, u01(ids, 2), side="right").clip(0, 9)
    has_geo = u01(ids, 3) < 0.7
    n_mentions = np.where(has_geo, 1 + (smix(ids, 4) % np.uint64(4)).astype(np.int64), 0)
    in_mega = has_geo & (u01(ids, 5) < 0.30)
    mega_idx = (smix(ids, 6) % np.uint64(3)).astype(np.int64)

    # base coordinates per doc (first mention)
    base_lat = u01(ids, 7) * 170.0 - 85.0
    base_lon = u01(ids, 8) * 360.0 - 180.0
    jlat = (u01(ids, 9) - 0.5) * 0.01
    jlon = (u01(ids, 10) - 0.5) * 0.01
    mc = np.array(MEGA_CENTERS)
    lat = np.where(in_mega, mc[mega_idx, 0] + jlat, base_lat)
    lon = np.where(in_mega, mc[mega_idx, 1] + jlon, base_lon)
    lat = np.round(lat, 6)
    lon = np.round(lon, 6)

    ts_us = (smix(ids, 11) % np.uint64(30 * 24 * 3600 * 1_000_000)).astype(np.int64)
    warc_ts = _EPOCH_2024 + ts_us.astype("timedelta64[us]")

    fmt_pick = (smix(ids, 12) % np.uint64(3)).astype(np.int64)  # 0 dec, 1 dms, 2 geo-uri
    n_words = 8 + (smix(ids, 13) % np.uint64(40)).astype(np.int64)
    n_places = (smix(ids, 14) % np.uint64(3)).astype(np.int64)
    word_seed = smix(ids, 15)
    place_seed = smix(ids, 16)

    urls, htmls, texts = [], [], []
    true_lat = np.where(n_mentions > 0, lat, np.nan)
    true_lon = np.where(n_mentions > 0, lon, np.nan)

    for i in range(n):
        did = int(ids[i])
        url = f"https://site{int(host[i])}.example/page/{did}"
        ws = int(word_seed[i])
        words = [WORDS[(ws >> (j % 48)) * (j + 1) % len(WORDS)] for j in range(int(n_words[i]))]
        parts = [" ".join(words)]
        # coordinate mentions
        for m in range(int(n_mentions[i])):
            if m == 0:
                mlat, mlon = float(lat[i]), float(lon[i])
            else:
                mlat = round(float(lat[i]) + (((did * 31 + m * 7) % 100) - 50) / 1000.0, 6)
                mlon = round(float(lon[i]) + (((did * 17 + m * 13) % 100) - 50) / 1000.0, 6)
                mlat = max(-85.0, min(85.0, mlat))
                mlon = max(-179.9, min(179.9, mlon))
            f = (int(fmt_pick[i]) + m) % 3
            plat, plon = mlat, mlon  # value the text parses back to
            if f == 0:
                parts.append(f"located at {_fmt6(mlat)}, {_fmt6(mlon)} nearby")
            elif f == 1:
                dlat, plat = _dms(mlat, "N", "S")
                dlon, plon = _dms(mlon, "E", "W")
                parts.append(f"coordinates {dlat} {dlon} marked")
            else:
                parts.append(f"see geo:{_fmt6(mlat)},{_fmt6(mlon)} for details")
            if m == 0:
                true_lat[i], true_lon[i] = plat, plon
        # place mentions
        for p in range(int(n_places[i])):
            parts.append(f"visit {GAZ_NAMES[(int(place_seed[i]) >> (p * 6)) % len(GAZ_NAMES)]} soon")
        main_text = " ".join(parts)
        # `text` is the FULL ground-truth extraction output (body text incl.
        # footer, entities decoded, whitespace collapsed)
        text = f"{main_text} © site{int(host[i])}"
        texts.append(text)
        urls.append(url)
        title = words[0] if words else "page"
        html = (
            f"<!DOCTYPE html><html><head><title>{title}</title>"
            f"<script>var x = {did % 97}; if (x > 3) {{ x = 0; }}</script>"
            f"<style>.c{{color:#123}}  body {{margin:0}}</style>"
            f"<!-- crawl {did} -->"
            f"</head><body>\n<div class=\"main\">  <p>{main_text.replace('&', '&amp;').replace('<', '&lt;')}</p>"
            f"\n</div><footer>\t&copy; site{int(host[i])}</footer></body></html>"
        )
        htmls.append(html.encode("utf-8"))

    return pd.DataFrame(
        {
            "doc_id": ids.astype(np.int64),
            "url": urls,
            "warc_ts": warc_ts,
            "html": htmls,
            "text": texts,
            "lang": [LANGS[j] for j in lang_idx],
            "true_lat": true_lat,
            "true_lon": true_lon,
            "n_mentions": n_mentions,
        }
    )


# ---------------------------------------------------------------------------
# Frontends
# ---------------------------------------------------------------------------

WEBPAGES_SCHEMA = (
    "doc_id bigint, url string, warc_ts timestamp, html binary, text string, "
    "lang string, true_lat double, true_lon double, n_mentions bigint"
)


def webpages_pandas(n: int, start: int = 0) -> pd.DataFrame:
    """Driver-side generation for unit tests / goldens."""
    return gen_batch(np.arange(start, start + n, dtype=np.uint64))


def webpages_spark(spark, n: int, partitions: int = 32):
    """Distributed generation: spark.range -> mapInPandas (Arrow-batched).

    Scale path: at 10^12 rows this is the synthetic stand-in for the Iceberg
    table scan; generation is embarrassingly parallel and partition-agnostic.
    """
    def gen(batches):
        for pdf in batches:
            yield gen_batch(pdf["id"].to_numpy(dtype=np.uint64))

    return spark.range(0, n, 1, partitions).mapInPandas(gen, WEBPAGES_SCHEMA)
