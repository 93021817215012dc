"""G1 — byte-identical html -> text extraction (the graft's invariant stage).

The per-row invariant (BASELINE.json:15): extracted text per url must be
byte-identical across runs, partitionings, and executor processes. The kernel
therefore uses only explicit byte/regex operations with a fixed entity table —
never locale-, version-, or dict-order-dependent behavior. This mirrors the
reference's extraction discipline: fresh deterministic parse per document,
bounds-checked slicing, fixed normalization (pkg/parser/shared/jstest/
helpers.go:13-45 UnquoteString; tspool/pool.go:114 fresh parser per call).

Spec (applied in order):
  1. decode UTF-8 with U+FFFD replacement for invalid bytes
  2. drop <script>...</script>, <style>...</style>, <title>...</title>
     blocks and <!-- comments --> (case-insensitive, non-greedy)
  3. strip every remaining <...> tag
  4. decode entities: fixed named table + decimal/hex numeric
  5. collapse every whitespace run to a single ASCII space; strip ends

Pure kernel (no Spark import) + an Arrow-batched mapInPandas stage. Rows
whose html exceeds ``MAX_HTML_BYTES`` yield text = NULL and error = 'oversize'
(error-as-data; reference analog: 10MB cap, scanner.go:37-38).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

MAX_HTML_BYTES = 10 * 1024 * 1024  # reference: DefaultMaxFileSize, scanner.go:37

_RE_DROP = re.compile(
    rb"(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>|<title\b.*?</title\s*>|<!--.*?-->"
)
_RE_TAG = re.compile(rb"<[^>]*>")

# Fixed entity table — deliberately small and explicit (determinism over
# completeness; extend only with golden-test coverage).
_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": " ",
    "copy": "©",
    "reg": "®",
    "deg": "°",
    "mdash": "—",
    "ndash": "–",
    "hellip": "…",
}
_RE_ENTITY = re.compile(r"&(#x?[0-9A-Fa-f]+|[A-Za-z]+);")


def _entity_sub(m: re.Match) -> str:
    body = m.group(1)
    if body.startswith("#"):
        try:
            cp = int(body[2:], 16) if body[1] in "xX" else int(body[1:], 10)
        except ValueError:
            return m.group(0)
        if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
            return chr(cp)
        return "�"
    return _ENTITIES.get(body, m.group(0))


def html_to_text(html: bytes | None) -> str | None:
    """Pure kernel: html bytes -> extracted text (None on None/oversize)."""
    if html is None or len(html) > MAX_HTML_BYTES:
        return None
    stripped = _RE_TAG.sub(b" ", _RE_DROP.sub(b" ", html))
    s = stripped.decode("utf-8", errors="replace")
    s = _RE_ENTITY.sub(_entity_sub, s)
    return " ".join(s.split())


def extract_batch(html: pd.Series) -> pd.DataFrame:
    """Batch kernel: Series[bytes] -> DataFrame(text, extract_error)."""
    texts, errs = [], []
    for h in html:
        if h is None:
            texts.append(None)
            errs.append("null_html")
        elif len(h) > MAX_HTML_BYTES:
            texts.append(None)
            errs.append("oversize")
        else:
            texts.append(html_to_text(h))
            errs.append(None)
    return pd.DataFrame({"text": pd.array(texts, dtype="string"), "extract_error": pd.array(errs, dtype="string")})


def with_extracted_text(df, html_col: str = "html", out_col: str = "text"):
    """Append extracted text + error columns via Arrow-batched mapInPandas.

    Adds ``out_col`` (string) and ``extract_error``. The fat ``html_col`` is
    consumed by the stage and NOT re-emitted — returning it would round-trip
    every document's raw bytes through the Arrow channel a second time for
    nothing (measured ~2x stage cost).

    UDF stage placement rule (SURVEY.md §4): apply cheap Column filters
    (size, lang, url predicates) BEFORE this stage — Catalyst cannot push
    predicates through a Python map stage.
    """
    schema_in = df.schema
    drop = {out_col, "extract_error", html_col}
    keep = [f for f in schema_in.fields if f.name not in drop]
    keep_names = [f.name for f in keep]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep)
        + f", {out_col} string, extract_error string"
    )

    def run(batches):
        for pdf in batches:
            res = extract_batch(pdf[html_col])
            out = pdf[keep_names].copy()
            out[out_col] = res["text"].astype(object).where(res["text"].notna(), None)
            out["extract_error"] = res["extract_error"].astype(object).where(
                res["extract_error"].notna(), None
            )
            yield out

    return df.mapInPandas(run, out_schema)
