"""PII detection/redaction (core_spark/functions/pii.py)."""

from __future__ import annotations

import pytest

from core_spark.functions import pii


CASES = [
    # (text, n_email, n_ssn, n_phone, n_ipv4, redacted)
    (
        "write to alice.smith+dev@sub.example.co today",
        1, 0, 0, 0,
        "write to <EMAIL> today",
    ),
    (
        "ssn 123-45-6789 on file",
        0, 1, 0, 0,
        "ssn <SSN> on file",
    ),
    (
        "call (415) 555-0123 or 415-555-0199 now",
        0, 0, 2, 0,
        "call <PHONE> or <PHONE> now",
    ),
    (
        "host 10.0.255.7 and 192.168.1.1.",
        0, 0, 0, 2,
        "host <IP> and <IP>.",
    ),
    # multi-category in one doc
    (
        "a@b.io ssn 111-22-3333 tel 650-555-1212 ip 8.8.8.8",
        1, 1, 1, 1,
        "<EMAIL> ssn <SSN> tel <PHONE> ip <IP>",
    ),
    # near-misses must NOT match: 3-3-4 is phone not SSN; long digit runs
    # break the IPv4 word boundary; no-TLD emails don't count
    (
        "order 1234-55-6789 v1.2.3.41234 u@x none",
        0, 0, 0, 0,
        "order 1234-55-6789 v1.2.3.41234 u@x none",
    ),
    ("", 0, 0, 0, 0, ""),
    (None, 0, 0, 0, 0, ""),
]


@pytest.mark.spark
def test_with_pii_spark(spark):
    df = spark.createDataFrame(
        [(i, t) for i, (t, *_rest) in enumerate(CASES)], "doc_id INT, text STRING"
    )
    from pyspark.sql import functions as F

    cols = {k: F.expr(e) for k, e in pii.pii_cols("text", "spark").items()}
    rows = {r.doc_id: r for r in df.withColumns(cols).collect()}
    for i, (_t, ne, ns, np_, ni, red) in enumerate(CASES):
        r = rows[i]
        got = (r.n_email, r.n_ssn, r.n_phone, r.n_ipv4, r.redacted)
        assert got == (ne, ns, np_, ni, red), f"case {i}: {got}"


def test_duckdb_twin_matches():
    import duckdb

    con = duckdb.connect()
    cols = pii.pii_cols("text", "duckdb")
    sel = ", ".join(f"{e} AS {k}" for k, e in cols.items())
    for i, (t, ne, ns, np_, ni, red) in enumerate(CASES):
        got = con.execute(
            f"SELECT {sel} FROM (SELECT ? AS text)", [t]
        ).fetchone()
        assert got == (ne, ns, np_, ni, red), f"case {i}: {got}"


def test_redaction_is_idempotent():
    """Placeholders contain no digits/@, so a second pass is a no-op."""
    import duckdb

    con = duckdb.connect()
    red = pii.pii_cols("text", "duckdb")["redacted"]
    twice = pii.pii_cols("t2", "duckdb")["redacted"]
    for t, *_ in CASES:
        one, two = con.execute(
            f"SELECT t2, {twice} FROM (SELECT {red} AS t2 FROM (SELECT ? AS text))",
            [t],
        ).fetchone()
        assert one == two


def test_bad_dialect_rejected():
    with pytest.raises(ValueError):
        pii.pii_cols("text", "postgres")
