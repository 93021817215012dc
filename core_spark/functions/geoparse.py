"""G2 — geoparsing: coordinate-mention extraction from text.

Three mention kinds:
  * ``dec``  — decimal pairs  ``40.712800, -74.006000``
  * ``geo``  — RFC-5870 URIs  ``geo:40.7128,-74.0060``
  * ``dms``  — DMS            ``40°26'46.0"N 79°58'56.0"W``

Two execution paths, same semantics:
  * JVM path (hot, 100-TB scale): `regexp_extract_all` Column expressions for
    dec/geo — whole-stage codegen, predicate-pushdown friendly, and the exact
    same SQL runs on DuckDB for the oracle. The regex is deliberately written
    in the common RE2/Java/ICU-compatible subset.
  * Kernel path: pure-Python `parse_mentions` (incl. DMS arithmetic) for unit
    tests, goldens, and the mapInPandas variant.

Reference analog: the per-language regex import extraction
(pkg/parser/detection/extraction/*.go) — same "regex battery over document
text, results as arrays" shape (SURVEY.md D2).
"""

from __future__ import annotations

import re

import pandas as pd

# ---------------------------------------------------------------------------
# Patterns (shared subset: Java regex == DuckDB RE2 semantics)
# ---------------------------------------------------------------------------

# No backslash classes: Spark SQL string literals process C-style escapes
# ('\d' -> 'd') while DuckDB keeps them — [0-9] / [.] are identical in both
# and in Java regex vs RE2. No quotes either (SQL literal safety).
DEC_PATTERN = "(-?[0-9]{1,2}[.][0-9]{1,6}), (-?[0-9]{1,3}[.][0-9]{1,6})"
GEO_URI_PATTERN = "geo:(-?[0-9]{1,2}[.][0-9]{1,6}),(-?[0-9]{1,3}[.][0-9]{1,6})"
DMS_PATTERN = (
    r"([0-9]{1,2})°([0-9]{1,2})'([0-9]{1,2}(?:[.][0-9])?)\"([NS]) "
    r"([0-9]{1,3})°([0-9]{1,2})'([0-9]{1,2}(?:[.][0-9])?)\"([EW])"
)

_RE_DEC = re.compile(DEC_PATTERN)
_RE_GEO = re.compile(GEO_URI_PATTERN)
_RE_DMS = re.compile(DMS_PATTERN)


def dms_to_decimal(d: str, m: str, s: str, hemi: str) -> float:
    v = int(d) + int(m) / 60.0 + float(s) / 3600.0
    return -v if hemi in ("S", "W") else v


def parse_mentions(text: str | None) -> list[dict]:
    """Pure kernel: text -> list of coordinate mentions (deterministic order:
    by start offset; kind tie-broken dec < dms < geo)."""
    if not text:
        return []
    # Each pattern contains its literal (", ", "geo:", "°"), so a text
    # without it cannot match; the substring test is far cheaper than the
    # regex scan that would fail.
    out = []
    for mt in _RE_DEC.finditer(text) if ", " in text else ():
        # a decimal pair inside a geo: URI is matched by the geo rule instead
        if text[max(0, mt.start() - 4) : mt.start()] == "geo:":
            continue
        lat, lon = float(mt.group(1)), float(mt.group(2))
        if abs(lat) <= 90.0 and abs(lon) <= 180.0:
            out.append(
                {"lat": lat, "lon": lon, "kind": "dec", "start": mt.start(), "end": mt.end()}
            )
    for mt in _RE_GEO.finditer(text) if "geo:" in text else ():
        lat, lon = float(mt.group(1)), float(mt.group(2))
        if abs(lat) <= 90.0 and abs(lon) <= 180.0:
            out.append(
                {"lat": lat, "lon": lon, "kind": "geo", "start": mt.start(), "end": mt.end()}
            )
    for mt in _RE_DMS.finditer(text) if "°" in text else ():
        lat = dms_to_decimal(mt.group(1), mt.group(2), mt.group(3), mt.group(4))
        lon = dms_to_decimal(mt.group(5), mt.group(6), mt.group(7), mt.group(8))
        if abs(lat) <= 90.0 and abs(lon) <= 180.0:
            out.append(
                {"lat": lat, "lon": lon, "kind": "dms", "start": mt.start(), "end": mt.end()}
            )
    out.sort(key=lambda r: (r["start"], r["kind"]))
    return out


# ---------------------------------------------------------------------------
# SQL emission (dec + geo kinds): same string for Spark F.expr and DuckDB
# ---------------------------------------------------------------------------

def sql_dec_mentions(text_col: str) -> tuple[str, str]:
    """SQL exprs (lats_array, lons_array) for decimal-pair mentions.

    regexp_extract_all(text, pat, group) exists with identical signature in
    Spark and DuckDB; string->double casts are correctly-rounded in both.
    """
    lat = f"regexp_extract_all({text_col}, '{DEC_PATTERN}', 1)"
    lon = f"regexp_extract_all({text_col}, '{DEC_PATTERN}', 2)"
    return lat, lon


# ---------------------------------------------------------------------------
# Spark stage (all kinds, incl. DMS): Arrow-batched mapInPandas
# ---------------------------------------------------------------------------

MENTION_SCHEMA = "mention_idx int, lat double, lon double, kind string, start_byte int, end_byte int"


def with_mentions(df, text_col: str = "text", key_cols: tuple[str, ...] = ("url",)):
    """Explode each document into its coordinate mentions (0 rows if none).

    Output: key_cols + MENTION_SCHEMA. Offsets are Python-str (code-point)
    offsets of the mention in ``text_col`` — deterministic because extracted
    text is itself byte-deterministic.
    """
    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name in key_cols
        )
        + ", "
        + MENTION_SCHEMA
    )
    keys = list(key_cols)

    def run(batches):
        for pdf in batches:
            rows = []
            key_arrays = [pdf[k].to_numpy() for k in keys]
            for j, text in enumerate(pdf[text_col].to_numpy()):
                kvals = tuple(a[j] for a in key_arrays)
                for i, m in enumerate(parse_mentions(text)):
                    rows.append(
                        kvals + (i, m["lat"], m["lon"], m["kind"], m["start"], m["end"])
                    )
            yield pd.DataFrame(
                rows,
                columns=keys + ["mention_idx", "lat", "lon", "kind", "start_byte", "end_byte"],
            )

    return df.select(*keys, text_col).mapInPandas(run, out_schema)
