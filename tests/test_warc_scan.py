"""WARC record scan: roundtrip, Content-Length-authoritative skip
(marker inside payload), error-as-data arms with resync, truncation,
Spark face. (Gzip members and malformed tails are covered in
test_warc.py.)"""

from __future__ import annotations

import hashlib

import pytest

from core_spark.sources.warc import (
    encode_warc,
    parse_warc,
    records_frame,
    scan_warc,
)

TS = "2026-01-01T00:00:00Z"


def _recs():
    return [
        {"rec_type": "warcinfo", "url": "urn:x-test:info", "ts": TS,
         "payload": b"software: test\r\n"},
        {"url": "http://a.example/", "ts": TS,
         "payload": b"HTTP/1.1 200 OK\r\n\r\n<html>hello</html>"},
        # payload CONTAINS a fake record marker: must not desync
        {"url": "http://b.example/", "ts": TS,
         "payload": b"binary WARC/1.0 lookalike\r\n\r\ninside"},
    ]


def _bad_length(data: bytes, i: int) -> bytes:
    """``data`` with record ``i``'s Content-Length value replaced by junk."""
    head, *recs = data.split(b"Content-Length: ")
    recs[i] = b"XXX" + recs[i][recs[i].index(b"\r\n"):]
    return b"Content-Length: ".join([head, *recs])


def test_roundtrip():
    data = encode_warc(_recs())
    rows = parse_warc(data)
    assert [r["parse_error"] for r in rows] == [None, None, None]
    assert [r["warc_type"] for r in rows] == [
        "warcinfo", "response", "response"]
    assert rows[1]["target_uri"] == "http://a.example/"
    assert rows[2]["payload"] == _recs()[2]["payload"]
    assert rows[2]["content_length"] == len(_recs()[2]["payload"])


def test_bad_content_length_resyncs():
    rows = parse_warc(_bad_length(encode_warc(_recs()), 1))
    assert len(rows) == 3
    assert rows[1]["parse_error"] == "bad-content-length"
    assert rows[1]["target_uri"] == "http://a.example/"   # salvaged
    assert rows[1]["content_length"] is None
    assert rows[2]["parse_error"] is None
    assert rows[2]["target_uri"] == "http://b.example/"


def test_truncated_payload_and_headers():
    data = encode_warc(_recs()[:2])
    rows = parse_warc(data[:-12])              # cut into payload
    assert rows[-1]["parse_error"] == "truncated-payload"
    rows = parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\nno-end")
    assert rows[0]["parse_error"] == "truncated-headers"
    assert parse_warc(b"") == []
    assert parse_warc(b"garbage with no marker") == []


def test_bad_version_errors():
    data = b"WARC/9.9\r\nWARC-Type: x\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    data += encode_warc(_recs()[:1])
    rows = parse_warc(data)
    assert rows[0]["parse_error"] == "bad-version"
    assert rows[1]["parse_error"] is None


def test_records_frame_digest():
    rows = records_frame(parse_warc(encode_warc(_recs())))
    assert rows[1][4] == hashlib.md5(_recs()[1]["payload"]).hexdigest()
    assert all(r[5] is None for r in rows)


@pytest.mark.spark
def test_scan_warc_spark_face(spark):
    data = encode_warc(_recs())
    rows = [
        (1, bytearray(data)),
        (2, bytearray(_bad_length(data, 0))),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "file_id long, warc binary")
    got = sorted(
        (r["file_id"], r["rec_index"], r["warc_type"], r["parse_error"])
        for r in scan_warc(df).collect()
    )
    assert got == [
        (1, 0, "warcinfo", None),
        (1, 1, "response", None),
        (1, 2, "response", None),
        (2, 0, "warcinfo", "bad-content-length"),
        (2, 1, "response", None),
        (2, 2, "response", None),
    ]
