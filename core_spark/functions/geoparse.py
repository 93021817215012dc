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
  * Kernel path: pure-Python `mention_batch` (incl. DMS arithmetic), one
    batch of flat columns per Arrow batch, for the mapInPandas stages
    (`with_mentions`, the fused kernel); `parse_mentions` is its per-doc dict
    view for unit tests and goldens.

Reference analog: the per-language regex import extraction
(pkg/parser/detection/extraction/*.go) — same "regex battery over document
text, results as arrays" shape (SURVEY.md D2).
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np
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


def _anchored(rx: re.Pattern, text: str, sep: str, lo: int, hi: int):
    """The matches of ``rx.finditer(text)``, trying ``rx.match`` only at the
    starts that reach an occurrence of ``sep``.

    Every match holds its first ``sep`` ``lo``-``hi`` characters after its
    start, and nothing before it can be ``sep``; so, taking the occurrences
    in ascending order and the starts that reach each one in ascending order
    from the end of the previous match, the first start that matches is the
    leftmost match, as ``finditer`` finds it. ``DEC_PATTERN`` begins with
    ``-?``, which leaves ``re`` no first-character set to skip ahead with:
    ``finditer`` attempts a match at every character.
    """
    pos = 0      # end of the previous match
    tried = -1   # last start attempted
    at = text.find(sep, lo)
    while at != -1:
        s = max(pos, at - hi, tried + 1)
        while s <= at - lo:
            mt = rx.match(text, s)
            if mt is not None:
                yield mt
                pos = mt.end()
                break
            tried = s
            s += 1
        at = text.find(sep, max(at + 1, pos + lo))


def _scan(text: str) -> list[tuple]:
    """One document's mentions as ``(start, kind, end, lat, lon)`` tuples,
    sorted by start (kind tie-broken dec < dms < geo)."""
    out = []
    # DEC_PATTERN's one ", " follows group 1: 3-10 characters, no comma.
    for mt in _anchored(_RE_DEC, text, ", ", 3, 10):
        s = mt.start()
        # a decimal pair inside a geo: URI is matched by the geo rule instead
        if text[max(0, s - 4) : s] == "geo:":
            continue
        lat, lon = float(mt.group(1)), float(mt.group(2))
        if abs(lat) <= 90.0 and abs(lon) <= 180.0:
            out.append((s, "dec", mt.end(), lat, lon))
    # The pattern's literal prefix lets re skip ahead; a text without it
    # cannot match, and the substring test is far cheaper than the scan.
    if "geo:" in text:
        for mt in _RE_GEO.finditer(text):
            lat, lon = float(mt.group(1)), float(mt.group(2))
            if abs(lat) <= 90.0 and abs(lon) <= 180.0:
                out.append((mt.start(), "geo", mt.end(), lat, lon))
    # DMS_PATTERN's first "°" follows 1-2 digits.
    for mt in _anchored(_RE_DMS, text, "°", 1, 2):
        lat = dms_to_decimal(mt.group(1), mt.group(2), mt.group(3), mt.group(4))
        lon = dms_to_decimal(mt.group(5), mt.group(6), mt.group(7), mt.group(8))
        if abs(lat) <= 90.0 and abs(lon) <= 180.0:
            out.append((mt.start(), "dms", mt.end(), lat, lon))
    out.sort()
    return out


class MentionBatch(NamedTuple):
    """The mentions of a batch of documents as flat columns, doc by doc in
    input order, each doc's in ``parse_mentions`` order. ``counts[j]`` is
    the number of doc ``j``'s mentions."""

    counts: np.ndarray  # int64, one per doc
    start: np.ndarray   # int64 code-point offsets into the doc's text
    end: np.ndarray     # int64
    kind: np.ndarray    # object: "dec" | "dms" | "geo"
    lat: np.ndarray     # float64
    lon: np.ndarray     # float64


def mention_batch(texts) -> MentionBatch:
    """Batch kernel: texts (None or empty for no text) -> MentionBatch."""
    counts, rows = [], []
    for text in texts:
        found = _scan(text) if text else ()
        counts.append(len(found))
        rows.extend(found)
    start, kind, end, lat, lon = zip(*rows) if rows else ((),) * 5
    return MentionBatch(
        np.array(counts, dtype=np.int64),
        np.array(start, dtype=np.int64),
        np.array(end, dtype=np.int64),
        np.array(kind, dtype=object),
        np.array(lat, dtype=np.float64),
        np.array(lon, dtype=np.float64),
    )


def mention_index(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(doc, i) per mention: the row of its doc in the batch, and its index
    within the doc's mentions."""
    doc = np.repeat(np.arange(len(counts)), counts)
    first = np.cumsum(counts) - counts  # each doc's first mention
    return doc, np.arange(len(doc)) - first[doc]


def parse_mentions(text: str | None) -> list[dict]:
    """Pure kernel: text -> list of coordinate mentions (deterministic order:
    by start offset; kind tie-broken dec < dms < geo). The per-doc dict view
    of the rows ``mention_batch`` collects."""
    if not text:
        return []
    return [
        {"lat": lat, "lon": lon, "kind": kind, "start": s, "end": e}
        for s, kind, e, lat, lon in _scan(text)
    ]


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
            yield mentions_frame(pdf, text_col, keys)

    return df.select(*keys, text_col).mapInPandas(run, out_schema)


def mentions_frame(pdf: pd.DataFrame, text_col: str, keys: list[str]) -> pd.DataFrame:
    """Batch kernel of ``with_mentions``: one row per mention, its doc's
    ``keys`` repeated, then MENTION_SCHEMA's columns."""
    mb = mention_batch(pdf[text_col].to_numpy())
    doc, idx = mention_index(mb.counts)
    out = {k: pdf[k].to_numpy()[doc] for k in keys}
    out.update(mention_idx=idx, lat=mb.lat, lon=mb.lon, kind=mb.kind,
               start_byte=mb.start, end_byte=mb.end)
    return pd.DataFrame(out)
