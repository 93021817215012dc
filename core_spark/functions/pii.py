"""PII detection + redaction over a text column (training-data curation).

Emails, NANP-shaped phone numbers, IPv4 addresses, and US-SSN-shaped ids
are counted and replaced with typed placeholder tokens. The patterns live
in the shared Java/RE2 regex subset (CLAUDE.md portability rules): character
classes instead of ``\\.`` escapes where possible, explicit ``{m,n}``
quantifiers, no lookaround (RE2 has none). The only dialect differences are
string-literal backslash processing (Spark consumes one level, DuckDB does
not) and DuckDB's ``regexp_replace`` defaulting to first-match-only (needs
the ``'g'`` flag; Spark is global by default).

Scale shape: every column is a per-row JVM regex over ``coalesce(text,'')``
— whole-stage-codegen'd map, no shuffle, no Python. Counting uses
``regexp_extract_all`` + size (identical match enumeration on both engines)
against the ORIGINAL text, so counts are independent of redaction order.

No reference counterpart (specvital/core has no PII subsystem); the
category set follows public web-corpus curation practice (CCNet / Dolma
style redaction).
"""

from __future__ import annotations

# Patterns are written with SINGLE backslashes; _lit() doubles them for
# Spark string literals. Order in PII_PATTERNS is the redaction order —
# the four categories are shape-disjoint (SSN 3-2-4 vs phone 3-3-4; email
# requires '@'; IPv4 requires dots between 1-3 digit runs), so order does
# not change the result; it is fixed for determinism anyway.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (name, pattern, placeholder)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"([(][0-9]{3}[)][ ]|[0-9]{3}-)[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}([.][0-9]{1,3}){3}\b", "<IP>"),
]


def _lit(pattern: str, dialect: str) -> str:
    """Pattern as a SQL string literal body for the given dialect."""
    if dialect == "spark":
        return pattern.replace("\\", "\\\\")
    return pattern


def _count_expr(col: str, pattern: str, dialect: str) -> str:
    pat = _lit(pattern, dialect)
    if dialect == "spark":
        return f"CAST(size(regexp_extract_all({col}, '{pat}', 0)) AS BIGINT)"
    return f"CAST(len(regexp_extract_all({col}, '{pat}', 0)) AS BIGINT)"


def _redact_expr(col: str, dialect: str) -> str:
    expr = col
    for _name, pattern, placeholder in PII_PATTERNS:
        pat = _lit(pattern, dialect)
        if dialect == "spark":
            expr = f"regexp_replace({expr}, '{pat}', '{placeholder}')"
        else:
            expr = f"regexp_replace({expr}, '{pat}', '{placeholder}', 'g')"
    return expr


def pii_cols(text_col: str, dialect: str) -> dict[str, str]:
    """{out_col: sql_expr} for PII counts + redacted text, per dialect.

    Emitted over ``coalesce(text,'')`` so NULL text yields zero counts and
    an empty redaction instead of NULLs (Spark's size(NULL) is NULL under
    ANSI mode; DuckDB's len(NULL) is NULL — the coalesce keeps both at 0).
    """
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect!r}")
    safe = f"coalesce({text_col}, '')"
    out = {
        f"n_{name}": _count_expr(safe, pattern, dialect)
        for name, pattern, _ph in PII_PATTERNS
    }
    out["redacted"] = _redact_expr(safe, dialect)
    return out
