"""Pure-Python Avro Object Container File codec (read + fixture-grade write).

Iceberg's table metadata layer (manifest lists and manifests) is Avro —
reading an Iceberg snapshot without the Iceberg runtime jar therefore
needs an Avro decoder. This is a from-scratch implementation of the
PUBLIC Apache Avro 1.11 specification (file container format + binary
encoding), scoped to what Iceberg metadata uses:

  types     null boolean int long float double bytes string fixed enum
            record array map union  (named-type references supported)
  codecs    null, deflate (raw zlib, spec §"Required Codecs")

Design notes
------------
* Decoding is schema-driven off the JSON schema embedded in the file
  header — the writer's schema is the reader's schema (no schema
  resolution / promotion; Iceberg readers do the same for metadata).
* Everything is driver-side by design: Avro here is METADATA (manifest
  files are KBs–MBs even for petabyte tables). Data files are parquet
  and stay on the distributed scan path. This mirrors Iceberg's own
  planning model (driver-side manifest reads).
* Error-as-data discipline lives one layer up (iceberg.py): this module
  raises ValueError with precise messages on malformed input; callers
  decide whether that becomes an error row.

No reference counterpart (specvital/core has no table-format layer).
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
import zlib

MAGIC = b"Obj\x01"

_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


# ---------------------------------------------------------------------------
# schema handling
# ---------------------------------------------------------------------------

def parse_schema(schema):
    """Normalize a JSON Avro schema (str or parsed) and index named types.

    Returns (schema, names) where names maps fullname -> definition for
    named-type references ("r2"-style reuse inside Iceberg manifests).
    """
    if isinstance(schema, str):
        try:
            schema = json.loads(schema)
        except json.JSONDecodeError as e:  # pragma: no cover - defensive
            raise ValueError(f"avro: bad schema JSON: {e}") from None
    names: dict[str, dict] = {}
    _collect_names(schema, names, namespace="")
    return schema, names


def _fullname(name: str, namespace: str) -> str:
    return name if "." in name or not namespace else f"{namespace}.{name}"


def _collect_names(schema, names: dict, namespace: str) -> None:
    if isinstance(schema, list):
        for s in schema:
            _collect_names(s, names, namespace)
        return
    if not isinstance(schema, dict):
        return
    t = schema.get("type")
    if t in ("record", "enum", "fixed"):
        ns = schema.get("namespace", namespace)
        full = _fullname(schema["name"], ns)
        names[full] = schema
        # a bare name also resolves when referenced without namespace —
        # but ONLY while it is unambiguous. Full Avro resolution is
        # against the referencing context's enclosing namespace; rather
        # than silently picking the first-seen definition (wrong field
        # layout -> garbage values), a collision poisons the bare name
        # so _resolve fails loudly and the caller must qualify it.
        bare = schema["name"]
        if bare != full:
            prev = names.get(bare)
            if prev is None:
                names[bare] = schema
            elif prev is not _AMBIGUOUS and prev != schema:
                names[bare] = _AMBIGUOUS
        if t == "record":
            for f in schema.get("fields", ()):
                _collect_names(f["type"], names, ns)
    elif t == "array":
        _collect_names(schema.get("items"), names, namespace)
    elif t == "map":
        _collect_names(schema.get("values"), names, namespace)


#: sentinel: a bare name defined in TWO namespaces (see _collect_names)
_AMBIGUOUS = object()


def _resolve(schema, names):
    """Resolve a named-type reference string to its definition."""
    if isinstance(schema, str) and schema not in _PRIMITIVES:
        got = names.get(schema)
        if got is _AMBIGUOUS:
            raise ValueError(
                f"avro: bare type reference {schema!r} is ambiguous — "
                "it is defined in more than one namespace; qualify the "
                "reference")
        if got is None:
            raise ValueError(f"avro: unknown type reference {schema!r}")
        return got
    return schema


# ---------------------------------------------------------------------------
# binary decoding
# ---------------------------------------------------------------------------

class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        if len(b) != n:
            raise ValueError(
                f"avro: truncated input (need {n} bytes at {self.pos}, "
                f"have {len(b)})")
        self.pos += n
        return b

    def read_long(self) -> int:
        shift = 0
        acc = 0
        while True:
            if self.pos >= len(self.buf):
                raise ValueError("avro: truncated varint")
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 70:
                raise ValueError("avro: varint too long")
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    def read_bytes(self) -> bytes:
        n = self.read_long()
        if n < 0:
            raise ValueError(f"avro: negative byte-length {n}")
        return self.read(n)


def _decode(schema, names, r: _Reader):
    schema = _resolve(schema, names)
    if isinstance(schema, list):  # union
        idx = r.read_long()
        if not 0 <= idx < len(schema):
            raise ValueError(f"avro: union index {idx} out of range")
        return _decode(schema[idx], names, r)
    if isinstance(schema, str):
        t = schema
    else:
        t = schema["type"]
        if t in _PRIMITIVES:
            pass
    if t == "null":
        return None
    if t == "boolean":
        return r.read(1) != b"\x00"
    if t in ("int", "long"):
        return r.read_long()
    if t == "float":
        return struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        return r.read_bytes()
    if t == "string":
        return r.read_bytes().decode("utf-8")
    if t == "fixed":
        return r.read(int(schema["size"]))
    if t == "enum":
        syms = schema["symbols"]
        idx = r.read_long()
        if not 0 <= idx < len(syms):
            raise ValueError(f"avro: enum index {idx} out of range")
        return syms[idx]
    if t == "record":
        return {
            f["name"]: _decode(f["type"], names, r)
            for f in schema["fields"]
        }
    if t == "array":
        out = []
        while True:
            n = r.read_long()
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix (spec: skippable blocks)
                n = -n
                r.read_long()
            for _ in range(n):
                out.append(_decode(schema["items"], names, r))
    if t == "map":
        out = {}
        while True:
            n = r.read_long()
            if n == 0:
                return out
            if n < 0:
                n = -n
                r.read_long()
            for _ in range(n):
                k = r.read_bytes().decode("utf-8")
                out[k] = _decode(schema["values"], names, r)
    raise ValueError(f"avro: unsupported type {t!r}")


# ---------------------------------------------------------------------------
# binary encoding (fixture-grade writer)
# ---------------------------------------------------------------------------

def _zigzag(n: int) -> bytes:
    # arithmetic shift makes this exact for the full 64-bit range
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(schema, names, val, out: bytearray) -> None:
    schema = _resolve(schema, names)
    if isinstance(schema, list):  # union: pick first branch accepting val
        for i, branch in enumerate(schema):
            if _union_match(_resolve(branch, names), val):
                out += _zigzag(i)
                _encode(branch, names, val, out)
                return
        raise ValueError(f"avro: no union branch for {type(val).__name__}")
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if val else 0)
    elif t in ("int", "long"):
        out += _zigzag(int(val))
    elif t == "float":
        out += struct.pack("<f", float(val))
    elif t == "double":
        out += struct.pack("<d", float(val))
    elif t == "bytes":
        out += _zigzag(len(val))
        out += val
    elif t == "string":
        b = val.encode("utf-8")
        out += _zigzag(len(b))
        out += b
    elif t == "fixed":
        if len(val) != int(schema["size"]):
            raise ValueError("avro: fixed size mismatch")
        out += val
    elif t == "enum":
        out += _zigzag(schema["symbols"].index(val))
    elif t == "record":
        for f in schema["fields"]:
            if f["name"] in val:
                fv = val[f["name"]]
            elif "default" in f:
                fv = f["default"]
            else:
                raise ValueError(f"avro: missing field {f['name']!r}")
            _encode(f["type"], names, fv, out)
    elif t == "array":
        if val:
            out += _zigzag(len(val))
            for v in val:
                _encode(schema["items"], names, v, out)
        out += _zigzag(0)
    elif t == "map":
        if val:
            out += _zigzag(len(val))
            for k, v in val.items():
                kb = k.encode("utf-8")
                out += _zigzag(len(kb))
                out += kb
                _encode(schema["values"], names, v, out)
        out += _zigzag(0)
    else:
        raise ValueError(f"avro: unsupported type {t!r}")


def _union_match(schema, val) -> bool:
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return val is None
    if val is None:
        return False
    if t == "boolean":
        return isinstance(val, bool)
    if t in ("int", "long"):
        return isinstance(val, int) and not isinstance(val, bool)
    if t in ("float", "double"):
        return isinstance(val, float)
    if t in ("bytes", "fixed"):
        return isinstance(val, (bytes, bytearray))
    if t in ("string", "enum"):
        return isinstance(val, str)
    if t == "record":
        return isinstance(val, dict)
    if t == "map":
        return isinstance(val, dict)
    if t == "array":
        return isinstance(val, list)
    return False


# ---------------------------------------------------------------------------
# object container file
# ---------------------------------------------------------------------------

def read_avro_file(data: bytes):
    """Decode an Avro object container file → (schema_json, records).

    Raises ValueError on malformed input; supports codecs null/deflate.
    """
    r = _Reader(data)
    if r.read(4) != MAGIC:
        raise ValueError("avro: bad magic")
    meta_schema, meta_names = parse_schema({"type": "map", "values": "bytes"})
    meta = _decode(meta_schema, meta_names, r)
    try:
        schema_json = meta["avro.schema"].decode("utf-8")
    except KeyError:
        raise ValueError("avro: header missing avro.schema") from None
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: unsupported codec {codec!r}")
    schema, names = parse_schema(schema_json)
    sync = r.read(16)
    records = []
    while r.pos < len(r.buf):
        count = r.read_long()
        size = r.read_long()
        if count < 0 or size < 0:
            raise ValueError("avro: negative block header")
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        br = _Reader(block)
        for _ in range(count):
            records.append(_decode(schema, names, br))
        if br.pos != len(block):
            raise ValueError("avro: trailing bytes in block")
        if r.read(16) != sync:
            raise ValueError("avro: sync marker mismatch")
    return schema_json, records


def write_avro_file(schema, records, codec: str = "deflate") -> bytes:
    """Encode records as an Avro object container file (one block)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: unsupported codec {codec!r}")
    schema_obj, names = parse_schema(schema)
    schema_json = json.dumps(schema_obj, separators=(",", ":"))
    body = bytearray()
    for rec in records:
        _encode(schema_obj, names, rec, body)
    body = bytes(body)
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        body = comp.compress(body) + comp.flush()
    # deterministic marker derived from content (fixture reproducibility)
    sync = hashlib.md5(schema_json.encode() + body).digest()
    out = bytearray(MAGIC)
    meta_schema, meta_names = parse_schema({"type": "map", "values": "bytes"})
    _encode(meta_schema, meta_names,
            {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()},
            out)
    out += sync
    out += _zigzag(len(records))
    out += _zigzag(len(body))
    out += body
    out += sync
    return bytes(out)
