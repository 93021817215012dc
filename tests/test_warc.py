"""WARC source (ISO 28500): round trips through ``encode_warc`` and
``parse_warc``, gzip members, malformed tails."""

from __future__ import annotations

import gzip

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from core_spark.sources.warc import encode_warc, parse_warc

RECS = [
    {"url": "https://a.example/x", "ts": "2026-01-02T03:04:05Z",
     "payload": b"<html>hello</html>"},
    {"url": "https://b.example/y?q=1", "ts": "2026-02-03T04:05:06Z",
     "payload": b""},  # empty block is legal
    {"url": "https://c.example/z", "ts": "2026-03-04T05:06:07Z",
     "payload": b"\x00\x01\xff binary \r\n\r\n embedded delimiter",
     "rec_type": "resource"},  # delimiter bytes INSIDE the block
]


def _fields(rs):
    return [
        (r["target_uri"], r["warc_date"], r["warc_type"], r["payload"],
         r["parse_error"])
        for r in rs
    ]


def _expected():
    return [
        (r["url"], r["ts"], r.get("rec_type", "response"),
         r["payload"], None)
        for r in RECS
    ]


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip(gz):
    data = encode_warc(RECS, per_record_gzip=gz)
    assert _fields(parse_warc(data)) == _expected()


def test_no_space_after_header_colon():
    """The grammar allows zero whitespace after ':' — a hand-built
    record with 'Content-Length:N' and 'WARC-Target-URI:u' (no space)
    must parse, not abort the archive tail."""
    body = b"payload!"
    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Type:response\r\n"
        b"WARC-Target-URI:https://nospace.example/p\r\n"
        b"WARC-Date:  2026-04-05T06:07:08Z \r\n"   # extra padding trims
        b"Content-Length:" + str(len(body)).encode() + b"\r\n"
        b"\r\n" + body + b"\r\n\r\n"
    )
    # followed by a normal record: the tail must survive
    data = raw + encode_warc(RECS[:1])
    rs = parse_warc(data)
    assert _fields(rs)[0] == (
        "https://nospace.example/p", "2026-04-05T06:07:08Z",
        "response", body, None,
    )
    assert _fields(rs)[1] == _expected()[0]


def test_content_length_is_authoritative():
    """The block is sliced by Content-Length, never by scanning for the
    delimiter — record 3 embeds \\r\\n\\r\\n inside its payload."""
    rs = parse_warc(encode_warc(RECS))
    assert rs[2]["payload"] == RECS[2]["payload"]


#: damage -> (the error row it leaves, None if the walk skips the damaged
#: bytes; how many records still parse whole)
_TAILS = {
    "missing record delimiter": (None, 2),
    "truncated record block": ("truncated-payload", 1),
    "missing/invalid Content-Length": ("bad-content-length", 2),
    "truncated header block": ("truncated-headers", 2),
    "bad version line": ("bad-version", 2),
}


@pytest.mark.parametrize(
    "mangle, damage",
    [
        # corrupt (not remove) the final record delimiter bytes
        (lambda d: d[:-4] + b"XXXX", "missing record delimiter"),
        # cut into the last record's payload
        (lambda d: d[:-6], "truncated record block"),
        # trailing header block with no Content-Length
        (lambda d: d + b"WARC/1.0\r\nNo-Length: x\r\n\r\n",
         "missing/invalid Content-Length"),
        # trailing header block that never terminates
        (lambda d: d + b"WARC/1.0\r\nWARC-Target-URI: u",
         "truncated header block"),
        # trailing record with an unknown version
        (lambda d: d + b"WARC/0.9\r\nContent-Length: 0\r\n\r\n",
         "bad version line"),
    ],
)
def test_malformed_tail_is_error_as_data(mangle, damage):
    # prefix = record 1 (non-empty payload) stays intact in every case
    rs = parse_warc(mangle(encode_warc([RECS[0], RECS[0]])))
    error, n_good = _TAILS[damage]
    good = [r for r in rs if r["parse_error"] is None]
    assert [r["parse_error"] for r in rs if r["parse_error"]] == ([error] if error else [])
    assert _fields(good) == _expected()[:1] * n_good


def test_bad_record_mid_archive_resyncs():
    """A corrupted Content-Length costs its own record only: the walk
    resyncs at the next record, plain or gzipped."""
    plain = encode_warc(RECS).replace(b"Content-Length: 0\r\n", b"Content-Length: x\r\n", 1)
    for data in (plain, gzip.compress(plain, mtime=0)):
        rs = parse_warc(data)
        assert [r["parse_error"] for r in rs] == [None, "bad-content-length", None]
        assert rs[1]["target_uri"] == RECS[1]["url"]  # headers salvaged
        assert _fields([rs[0], rs[2]]) == [_expected()[0], _expected()[2]]


def test_gzip_garbage_is_error_as_data():
    rs = parse_warc(b"\x1f\x8b not actually gzip")
    assert [r["parse_error"] for r in rs] == ["bad-gzip"]
    # the records of the members before a corrupt one are kept
    rs = parse_warc(encode_warc(RECS, per_record_gzip=True) + b"\x1f\x8b junk")
    assert _fields(rs[:3]) == _expected()
    assert [r["parse_error"] for r in rs[3:]] == ["bad-gzip"]


def test_gzip_members_are_independent():
    """Standard warc.gz: one member per record, so a member boundary
    exists between records (prefix of members decompresses cleanly)."""
    data = encode_warc(RECS, per_record_gzip=True)
    one = encode_warc(RECS[:1], per_record_gzip=True)
    assert data.startswith(one)  # record 1's member is byte-identical
    assert _fields(parse_warc(one)) == _expected()[:1]


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    min_codepoint=33, max_codepoint=126
                ),
                min_size=1,
                max_size=30,
            ),
            st.binary(max_size=200),
        ),
        max_size=6,
    ),
    st.booleans(),
)
def test_roundtrip_fuzz(pairs, gz):
    recs = [
        {"url": "https://f.example/" + u, "ts": "2026-01-01T00:00:00Z",
         "payload": p}
        for u, p in pairs
    ]
    got = parse_warc(encode_warc(recs, per_record_gzip=gz))
    assert [(r["target_uri"], r["payload"], r["parse_error"]) for r in got] == [
        (r["url"], r["payload"], None) for r in recs
    ]
