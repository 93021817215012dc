"""WARC source — Common Crawl's native archive format (ISO 28500 /
WARC/1.0, public spec; the same record grammar warcio and the Common
Crawl examples document).

A web-scale corpus engine must ingest WARC directly: crawl dumps arrive
as `*.warc.gz` with ONE GZIP MEMBER PER RECORD (the standard layout —
it is what makes per-record random access and streaming splits possible
at all). Two surfaces:

  file level, pure bytes (the `warc_roundtrip` query):
    encode_warc(records)        fixture-grade writer, response records
    parse_warc_bytes(data)      record splitter + header parser; plain
                                concatenated records OR multi-member gzip
                                (auto-detected by magic); error-as-data —
                                a malformed tail yields an `error` record
                                instead of raising, keeping every
                                well-formed prefix record

  record scan (the `warc_scan` query, below):
    scan_warc(df)               WARC blobs → ONE Arrow-batched
                                mapInPandas stage → one row per record
                                (SCAN_SCHEMA, md5 payload digests)

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
import io
import zlib
from datetime import datetime, timezone

_CRLF = b"\r\n"
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
        rec = head + payload + _CRLF + _CRLF
        if per_record_gzip:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(rec)
            rec = buf.getvalue()
        out.append(rec)
    return b"".join(out)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress ALL concatenated gzip members (zlib stops at the first
    member; warc.gz has one per record)."""
    out, pos = [], 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        out.append(d.decompress(data[pos:]))
        out.append(d.flush())
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # pragma: no cover - defensive
            break
        pos += consumed
    return b"".join(out)


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Parse concatenated WARC records (plain or multi-member gzip).

    Returns one dict per record: url, ts, rec_type, payload, error.
    Malformed input never raises: the well-formed prefix is kept and ONE
    trailing dict with ``error`` set describes the failure (error-as-
    data, the media-decoder convention)."""
    recs: list[dict] = []

    def err(msg: str) -> list[dict]:
        recs.append(
            {"url": None, "ts": None, "rec_type": None,
             "payload": None, "error": msg[:200]}
        )
        return recs

    if data[:2] == _GZIP_MAGIC:
        try:
            data = _gunzip_members(data)
        except Exception as e:
            return err(f"gzip: {type(e).__name__}: {e}")
    pos = 0
    while pos < len(data):
        if data[pos:pos + 4] == _CRLF + _CRLF:  # stray delimiter slack
            pos += 4
            continue
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            return err("truncated header block")
        head = data[pos:head_end]
        lines = head.split(_CRLF)
        if not lines[0].startswith(b"WARC/"):
            return err(f"bad version line at offset {pos}")
        hdrs = {}
        for ln in lines[1:]:
            # the grammar allows zero whitespace after ':' — partition
            # on the bare colon and strip, or 'Content-Length:123'
            # (spec-legal) kills parsing for the whole archive tail
            k, sep, v = ln.partition(b":")
            if sep:
                hdrs[k.decode("ascii", "replace").strip().lower()] = (
                    v.decode("utf-8", "replace").strip()
                )
        try:
            n = int(hdrs.get("content-length", ""))
        except ValueError:
            return err("missing/invalid Content-Length")
        body_start = head_end + 4
        body_end = body_start + n
        if body_end + 4 > len(data):
            return err("truncated record block")
        if data[body_end:body_end + 4] != _CRLF + _CRLF:
            return err("missing record delimiter")
        recs.append(
            {
                "url": hdrs.get("warc-target-uri"),
                "ts": hdrs.get("warc-date"),
                "rec_type": hdrs.get("warc-type"),
                "payload": data[body_start:body_end],
                "error": None,
            }
        )
        pos = body_end + 4
    return recs


# ---------------------------------------------------------------------------
# Record-scan face (second WARC surface, added in the statistics wave)
# ---------------------------------------------------------------------------
# The functions above are the FILE-level surface (encode_warc /
# parse_warc_bytes: gzip members, the warc_roundtrip oracle). The
# section below is the independent RECORD-SCAN surface used by the
# `warc_scan` generation-rule oracle: a plain-text record walker with
# Content-Length-authoritative skip, error-as-data rows (bad-version /
# bad-content-length / truncated-*) with salvaged URIs, deterministic
# resync, and an Arrow mapInPandas face (scan_warc) emitting
# SCAN_SCHEMA with md5 payload digests.

import hashlib


_CRLF2 = b"\r\n\r\n"

# record schema emitted by the Spark face (and mirrored by oracles)
SCAN_SCHEMA = (
    "rec_index INT, warc_type STRING, target_uri STRING,"
    " content_length BIGINT, payload_md5 STRING, parse_error STRING"
)


def parse_warc(data: bytes) -> list[dict]:
    """Parse a WARC byte stream into record dicts (version,
    warc_type, target_uri, record_id, content_length, payload,
    parse_error). Malformed records surface as error-as-data rows;
    parsing never raises on input bytes."""
    out: list[dict] = []
    pos, n = 0, len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        rec: dict = {
            "version": None, "warc_type": None, "target_uri": None,
            "record_id": None, "content_length": None,
            "payload": None, "parse_error": None,
        }
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
    return out


def build_warc(records: list[dict]) -> bytes:
    """Serialize record dicts (warc_type, target_uri, payload bytes,
    optional record_id / extra_headers / content_length override)
    into a WARC/1.0 byte stream — the test/fixture inverse of
    ``parse_warc``."""
    parts: list[bytes] = []
    for i, r in enumerate(records):
        payload = r.get("payload", b"")
        cl = r.get("content_length", len(payload))
        hdrs = [
            b"WARC/1.0",
            b"WARC-Type: " + str(r.get("warc_type", "response")).encode(),
            b"WARC-Record-ID: "
            + str(r.get("record_id", f"<urn:test:{i}>")).encode(),
        ]
        if r.get("target_uri") is not None:
            hdrs.append(b"WARC-Target-URI: " + str(r["target_uri"]).encode())
        for k, v in (r.get("extra_headers") or {}).items():
            hdrs.append(f"{k}: {v}".encode())
        hdrs.append(b"Content-Length: " + str(cl).encode())
        parts.append(b"\r\n".join(hdrs) + _CRLF2 + payload + _CRLF2)
    return b"".join(parts)


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
