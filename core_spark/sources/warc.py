"""WARC source — Common Crawl's native archive format (ISO 28500 /
WARC/1.0, public spec; the same record grammar warcio and the Common
Crawl examples document).

A web-scale corpus engine must ingest WARC directly: crawl dumps arrive
as `*.warc.gz` with ONE GZIP MEMBER PER RECORD (the standard layout —
it is what makes per-record random access and streaming splits possible
at all). One writer, one reader, one Spark face:

    encode_warc(records)        fixture-grade writer, response records,
                                optionally one gzip member per record
    parse_warc(data)            record walker over plain concatenated
                                records OR multi-member gzip (auto-detected
                                by magic); Content-Length-authoritative
                                slicing; error-as-data rows (bad-gzip /
                                bad-version / bad-content-length /
                                truncated-*) with salvaged headers, then
                                resync at the next `WARC/` marker, so one
                                bad record never ends the archive
    scan_warc(df)               WARC blobs → ONE Arrow-batched
                                mapInPandas stage → one row per record
                                (SCAN_SCHEMA, md5 payload digests)

The `warc_roundtrip` query gates the writer and reader field by field;
`warc_scan` gates the walker's resync on corrupted records.

Per-record gzip means a future split-by-member reader can parallelize
INSIDE a file; documented, not needed at fixture scale.

Record grammar (spec §4): version line `WARC/1.0`, CRLF-separated
named headers, CRLF CRLF, `Content-Length` octets of block, CRLF CRLF
record delimiter.

No reference counterpart (specvital/core reads source trees, not web
archives).
"""

from __future__ import annotations

import gzip
import hashlib
import io
import zlib
from datetime import datetime, timezone

_CRLF = b"\r\n"
_CRLF2 = _CRLF + _CRLF
_GZIP_MAGIC = b"\x1f\x8b"


def encode_warc(records: list[dict], per_record_gzip: bool = False) -> bytes:
    """Fixture-grade WARC/1.0 writer.

    Each record dict: url (str), ts (ISO-8601 str or datetime),
    payload (bytes), optional rec_type (default 'response'). With
    ``per_record_gzip`` each record becomes its own gzip member — the
    standard `.warc.gz` layout.
    """
    out = []
    for i, r in enumerate(records):
        ts = r["ts"]
        if isinstance(ts, datetime):
            ts = ts.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
        payload = r["payload"]
        head = (
            b"WARC/1.0" + _CRLF
            + b"WARC-Type: " + r.get("rec_type", "response").encode() + _CRLF
            + b"WARC-Record-ID: <urn:uuid:" + str(i).encode() + b">" + _CRLF
            + b"WARC-Target-URI: " + r["url"].encode() + _CRLF
            + b"WARC-Date: " + ts.encode() + _CRLF
            + b"Content-Length: " + str(len(payload)).encode() + _CRLF
            + _CRLF
        )
        rec = head + payload + _CRLF2
        if per_record_gzip:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(rec)
            rec = buf.getvalue()
        out.append(rec)
    return b"".join(out)


def _gunzip_members(data: bytes) -> tuple[bytes, bool]:
    """Decompress the concatenated gzip members (zlib stops at the first
    member; warc.gz has one per record) up to the first corrupt one:
    (the bytes, whether every member decompressed)."""
    out, pos = [], 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(data[pos:]) + d.flush())
        except zlib.error:
            return b"".join(out), False
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # pragma: no cover - defensive
            break
        pos += consumed
    return b"".join(out), True


# record schema emitted by the Spark face (and mirrored by oracles)
SCAN_SCHEMA = (
    "rec_index INT, warc_type STRING, target_uri STRING,"
    " content_length BIGINT, payload_md5 STRING, parse_error STRING"
)

_FIELDS = ("version", "warc_type", "target_uri", "record_id", "warc_date",
           "content_length", "payload", "parse_error")


def parse_warc(data: bytes) -> list[dict]:
    """Parse a WARC byte stream, plain or multi-member gzip, into record
    dicts with the ``_FIELDS`` keys. Malformed records surface as
    error-as-data rows; parsing never raises on input bytes. A corrupt gzip
    member ends the walk with a ``bad-gzip`` row after the records of the
    members before it."""
    whole = True
    if data[:2] == _GZIP_MAGIC:
        data, whole = _gunzip_members(data)
    out: list[dict] = []
    pos, n = 0, len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        rec = dict.fromkeys(_FIELDS)
        eol = data.find(b"\r\n", start)
        if eol < 0:
            rec["parse_error"] = "truncated-version"
            out.append(rec)
            break
        version = data[start:eol].decode("latin-1")
        rec["version"] = version
        hdr_end = data.find(_CRLF2, eol)
        if hdr_end < 0:
            rec["parse_error"] = "truncated-headers"
            out.append(rec)
            break
        headers: dict[str, str] = {}
        for line in data[eol + 2:hdr_end].split(b"\r\n"):
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().decode("latin-1").lower()] = (
                    v.strip().decode("latin-1"))
        rec["warc_type"] = headers.get("warc-type")
        rec["target_uri"] = headers.get("warc-target-uri")
        rec["record_id"] = headers.get("warc-record-id")
        rec["warc_date"] = headers.get("warc-date")
        body_at = hdr_end + len(_CRLF2)
        if version not in ("WARC/1.0", "WARC/1.1"):
            rec["parse_error"] = "bad-version"
            out.append(rec)
            pos = data.find(b"WARC/", body_at)
            if pos < 0:
                break
            continue
        cl_raw = headers.get("content-length")
        try:
            cl = int(cl_raw)
            if cl < 0:
                raise ValueError
        except (TypeError, ValueError):
            rec["parse_error"] = "bad-content-length"
            out.append(rec)
            # salvage resync: next marker after the header block
            pos = data.find(b"WARC/", body_at)
            if pos < 0:
                break
            continue
        rec["content_length"] = cl
        payload = data[body_at:body_at + cl]
        if len(payload) < cl:
            rec["parse_error"] = "truncated-payload"
            rec["payload"] = payload
            out.append(rec)
            break
        rec["payload"] = payload
        out.append(rec)
        pos = body_at + cl
    if not whole:
        out.append(dict(dict.fromkeys(_FIELDS), parse_error="bad-gzip"))
    return out


def records_frame(rows: list[dict]) -> list[tuple]:
    """Flatten parse_warc output to SCAN_SCHEMA tuples (payload
    digested to md5 hex; None-safe)."""
    out = []
    for i, r in enumerate(rows):
        p = r.get("payload")
        out.append((
            i,
            r.get("warc_type"),
            r.get("target_uri"),
            r.get("content_length"),
            hashlib.md5(p).hexdigest() if p is not None else None,
            r.get("parse_error"),
        ))
    return out


def scan_warc(df, blob_col: str = "warc", keep_cols: tuple = ("file_id",)):
    """Spark face: explode each WARC blob into record rows — ONE
    Arrow-batched mapInPandas stage (fused-stage rule), fixed
    ``SCAN_SCHEMA`` plus the carried ``keep_cols``."""
    import pandas as pd

    keep = list(keep_cols)
    schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep
    ) + ", " + SCAN_SCHEMA

    def run(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                blob = row[blob_col]
                if blob is None:
                    continue
                if isinstance(blob, str):
                    blob = blob.encode("latin-1")
                for tup in records_frame(parse_warc(bytes(blob))):
                    rows.append(tuple(row[c] for c in keep) + tup)
            cols = keep + ["rec_index", "warc_type", "target_uri",
                           "content_length", "payload_md5", "parse_error"]
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, schema)
