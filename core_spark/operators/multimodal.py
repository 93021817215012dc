"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The container ships no decode libraries (no PIL/cv2/ffmpeg). Both dominant
web formats are implemented from their public specs: PNG (RFC 2083) on
stdlib zlib+struct — every legal bit depth (1/2/4/8/16) and color type
(gray/RGB/palette/gray-alpha/RGBA), filters 0-4, non-interlaced and Adam7
interlaced — and JPEG (ITU-T T.81) in functions/jpeg.py — Huffman baseline
sequential AND progressive DCT (SOF2 spectral selection + successive
approximation), 4:4:4/4:2:2/4:2:0, restart markers. Remaining exotic
variants (arithmetic/lossless/12-bit JPEG) raise NotImplementedError
and surface as `decode_error` rows. Every piece of
Spark plumbing is real and tested: the schema contract, the mapInPandas
batch shape, the partition sizing rule, and the metadata extraction that
runs BEFORE any decode (so corrupt bytes never kill a 10^12-row stage).

The fake codec ("fakeimg/v1") is a deterministic header the synthetic corpus
can emit: b"FAKEIMG1" + width(u32 LE) + height(u32 LE) + channels(u8) +
payload. Header parsing is real byte-level work — the same bounds-checked
slicing discipline as the reference's node-text extraction
(pkg/parser/shared/treesitter.go:89-110).

Feature extraction (resize / frame-sample / embed) follows the same pattern:
operate on numpy arrays inside mapInPandas, emit fixed-schema structs.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from core_spark.functions.jpeg import decode_jpeg, encode_jpeg, jpeg_header  # noqa: F401

FAKE_MAGIC = b"FAKEIMG1"

MEDIA_META_SCHEMA = (
    "media_ok boolean, media_format string, width int, height int, "
    "channels int, n_bytes bigint, media_error string"
)


def parse_media_header(blob: bytes | None) -> dict:
    """Pure kernel: bounds-checked header parse; never raises (error-as-data)."""
    if blob is None:
        return {"media_ok": False, "media_format": None, "width": None,
                "height": None, "channels": None, "n_bytes": None,
                "media_error": "null_blob"}
    n = len(blob)
    if n >= 8 and blob[:8] == FAKE_MAGIC:
        if n < 17:
            return {"media_ok": False, "media_format": "fakeimg/v1", "width": None,
                    "height": None, "channels": None, "n_bytes": n,
                    "media_error": "truncated_header"}
        w, h = struct.unpack_from("<II", blob, 8)
        c = blob[16]
        expected = 17 + w * h * c
        if n < expected:
            return {"media_ok": False, "media_format": "fakeimg/v1", "width": int(w),
                    "height": int(h), "channels": int(c), "n_bytes": n,
                    "media_error": "truncated_payload"}
        return {"media_ok": True, "media_format": "fakeimg/v1", "width": int(w),
                "height": int(h), "channels": int(c), "n_bytes": n,
                "media_error": None}
    if n >= 8 and blob[:8] == PNG_MAGIC:
        return _parse_png_header(blob)
    if n >= 3 and blob[:3] == b"\xff\xd8\xff":
        return jpeg_header(blob)
    return {"media_ok": False, "media_format": None, "width": None, "height": None,
            "channels": None, "n_bytes": n, "media_error": "unsupported_codec"}


# ---------------------------------------------------------------------------
# PNG (RFC 2083): stdlib zlib + struct, no external decode libraries
# ---------------------------------------------------------------------------

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# color type -> (raw channels in the bitstream, decoded output channels)
_PNG_COLOR_CHANNELS = {0: (1, 1), 2: (3, 3), 3: (1, 3), 4: (2, 2), 6: (4, 4)}


# legal bit depths per color type (RFC 2083 §4.1.1); anything else is an
# invalid PNG, surfaced as unsupported_png_variant (error-as-data)
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}

# Adam7 interlace pass origins/strides (RFC 2083 §2.6): (x0, y0, dx, dy)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _parse_png_header(blob: bytes) -> dict:
    """IHDR parse (bounds-checked; never raises). media_ok=True iff this is
    a spec-legal PNG we decode: any legal (bit depth, color type) combo —
    1/2/4/8/16-bit, gray/RGB/palette/alpha — compression 0, filter method 0,
    non-interlaced or Adam7."""
    n = len(blob)
    base = {"media_format": "image/png", "n_bytes": n, "width": None,
            "height": None, "channels": None}
    if n < 33 or blob[12:16] != b"IHDR" or struct.unpack_from(">I", blob, 8)[0] != 13:
        return {"media_ok": False, "media_error": "truncated_header", **base}
    w, h = struct.unpack_from(">II", blob, 16)
    depth, color, comp, filt, interlace = blob[24:29]
    chans = _PNG_COLOR_CHANNELS.get(color)
    if chans is not None:
        base.update(width=int(w), height=int(h), channels=chans[1])
    ok = (chans is not None and depth in _PNG_DEPTHS.get(color, ())
          and comp == 0 and filt == 0 and interlace in (0, 1)
          and w > 0 and h > 0)
    return {"media_ok": ok,
            "media_error": None if ok else "unsupported_png_variant", **base}


def _png_chunks(blob: bytes):
    """Yield (type, data) chunks; stops cleanly at truncation (CRCs are not
    validated — corrupt payloads surface as zlib/shape errors, caught by the
    error-as-data wrapper)."""
    pos = 8
    n = len(blob)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", blob, pos)
        ctype = blob[pos + 4:pos + 8]
        data_end = pos + 8 + length
        if data_end > n:
            return
        yield ctype, blob[pos + 8:data_end]
        pos = data_end + 4  # skip CRC
        if ctype == b"IEND":
            return


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int,
                  offset: int = 0) -> np.ndarray:
    """Reverse per-scanline filters 0-4 -> (h, stride) uint8, reading h
    scanlines of ``stride`` bytes (each prefixed by its filter byte) from
    ``raw`` starting at ``offset`` — interlaced decode calls this once per
    Adam7 pass with a running offset. None/Up rows are vectorized, and
    Sub's left-recurrence is a per-channel uint8 cumsum (wrapping addition
    IS mod-256), so the three common filters run at numpy speed;
    Average/Paeth mix left and up dependencies and stay scalar loops —
    acceptable for thumbnail-sized fixtures (a real cluster swaps in
    libvips for bulk decode, same schema contract)."""
    need = offset + h * (stride + 1)
    if len(raw) < need:
        raise ValueError("png_truncated_idat")
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = offset
    zero = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = raw[pos]
        pos += 1
        row = np.frombuffer(raw, np.uint8, stride, pos).copy()
        pos += stride
        prev = out[y - 1] if y else zero
        if ft == 0:
            cur = row
        elif ft == 1:  # Sub: per-channel prefix sum, uint8 wrap = mod 256
            cur = np.cumsum(row.reshape(-1, bpp), axis=0, dtype=np.uint8).ravel()
        elif ft == 2:  # Up (uint8 addition wraps mod 256 by construction)
            cur = row + prev
        elif ft == 3:  # Average
            cur = row
            for i in range(stride):
                left = int(cur[i - bpp]) if i >= bpp else 0
                cur[i] = (int(cur[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            cur = row
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                c = int(prev[i - bpp]) if i >= bpp else 0
                cur[i] = (int(cur[i]) + _paeth(a, int(prev[i]), c)) & 0xFF
        else:
            raise ValueError(f"png_bad_filter_{ft}")
        out[y] = cur
    return out


def _rows_to_samples(rows: np.ndarray, w: int, raw_c: int, depth: int) -> np.ndarray:
    """Unfiltered scanline bytes (h, stride) -> per-pixel samples
    (h, w, raw_c) uint8. 16-bit samples keep the most-significant byte
    (standard display downconversion); sub-byte depths are big-endian
    bit-packed within each scanline (RFC 2083 §2.3) and unpack via
    np.unpackbits; palette indices pass through unscaled."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * raw_c].reshape(h, w, raw_c)
    if depth == 16:
        u16 = rows.reshape(h, -1, 2)[:, : w * raw_c, 0]  # MSB of each >u2
        return u16.reshape(h, w, raw_c)
    # depth in {1, 2, 4}: gray or palette index, one channel by spec
    bits = np.unpackbits(rows, axis=1)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    samples = (bits.reshape(h, -1, depth) * weights).sum(axis=2).astype(np.uint8)
    return samples[:, :w].reshape(h, w, 1)


def _decode_png(blob: bytes) -> np.ndarray:
    """Decode a supported PNG (see _parse_png_header) to (h, w, c) uint8:
    all legal bit depths (1/2/4/8/16), all five color types, non-interlaced
    or Adam7-interlaced. 16-bit channels are downconverted to their high
    byte; tRNS transparency is ignored (thumbnail contract)."""
    import zlib

    meta = _parse_png_header(blob)
    if not meta["media_ok"]:
        raise ValueError(meta["media_error"] or "png_undecodable")
    w, h = meta["width"], meta["height"]
    depth, color, interlace = blob[24], blob[25], blob[28]
    raw_c, out_c = _PNG_COLOR_CHANNELS[color]
    idat = b"".join(d for t, d in _png_chunks(blob) if t == b"IDAT")
    plte = next((d for t, d in _png_chunks(blob) if t == b"PLTE"), None)
    if not idat:
        raise ValueError("png_missing_idat")
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:  # corrupt stream: error-as-data, never a stage kill
        raise ValueError(f"png_bad_idat: {e}") from e

    bpp = max(1, (depth * raw_c) // 8)  # filter byte distance (RFC 2083 §6.2)

    def stride_of(width: int) -> int:
        return (width * raw_c * depth + 7) // 8

    if interlace == 0:
        px = _rows_to_samples(_png_unfilter(raw, h, stride_of(w), bpp), w, raw_c, depth)
    else:  # Adam7: seven independently-filtered sub-images, scattered back
        px = np.zeros((h, w, raw_c), dtype=np.uint8)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue  # empty pass contributes no scanlines at all
            stride = stride_of(wp)
            sub = _png_unfilter(raw, hp, stride, bpp, offset)
            offset += hp * (stride + 1)
            px[y0::dy, x0::dx] = _rows_to_samples(sub, wp, raw_c, depth)

    if color == 3:  # palette -> RGB
        if plte is None or len(plte) % 3:
            raise ValueError("png_bad_palette")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("png_palette_index_oob")
        return pal[idx]
    if color == 0 and depth < 8:  # gray: expand sample range to 0..255
        return (px * np.uint8(255 // ((1 << depth) - 1))).reshape(h, w, out_c)
    return px.reshape(h, w, out_c)


def encode_png(arr: np.ndarray) -> bytes:
    """Minimal PNG encoder for fixtures: (h, w) or (h, w, c) uint8 with
    c in {1, 2, 3, 4}, filter 0 rows, one IDAT. Round-trips _decode_png."""
    import zlib

    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def decode_image(blob: bytes, meta: dict) -> np.ndarray:
    """Decode to (h, w, c) uint8. Implemented here: the deterministic fake
    codec, PNG (stdlib zlib decoder above — all legal depth/color/interlace
    combos) and JPEG, baseline or progressive (functions/jpeg.py). Exotic
    variants (arithmetic/lossless JPEG) raise NotImplementedError. ``meta``
    is the parse_media_header result for the SAME blob, which the caller
    (with_media_features) has already computed."""
    if meta["media_format"] == "image/png":
        if meta["media_ok"]:
            return _decode_png(blob)
        if meta["media_error"] == "unsupported_png_variant":
            # spec-illegal depth/color combo or unknown interlace method
            raise NotImplementedError("png variant not decodable here")
        raise ValueError(meta["media_error"] or "undecodable")
    if meta["media_format"] == "image/jpeg":
        return decode_jpeg(blob)
    if not meta["media_ok"]:
        raise ValueError(meta["media_error"] or "undecodable")
    w, h, c = meta["width"], meta["height"], meta["channels"]
    return np.frombuffer(blob, dtype=np.uint8, offset=17, count=w * h * c).reshape(h, w, c)


def encode_fake_image(arr: np.ndarray) -> bytes:
    """Deterministic fake encoder for fixtures: (h, w, c) uint8 -> bytes."""
    h, w, c = arr.shape
    return FAKE_MAGIC + struct.pack("<II", w, h) + bytes([c]) + arr.tobytes()


def with_media_features(df, blob_col: str = "media", size: int = 8):
    """Metadata + thumbnail in ONE fused Arrow stage (the CLAUDE.md rule:
    chained mapInPandas anti-scales — each stage is its own Python worker
    pipeline with a JVM round-trip between). Appends MEDIA_META_SCHEMA
    (parse_media_header) plus a ``size`` x ``size`` channel-mean
    nearest-neighbour thumbnail and ``decode_error``; rows whose codec is
    unavailable get NULL features with the error recorded (never a stage
    failure). The blob column is projected away so downstream shuffles
    stay thin; the header is parsed once and reused by the decoder.

    Partition sizing rule: media rows are fat — set
    spark.sql.files.maxPartitionBytes (or repartition upstream) so a batch
    of blobs fits executor memory; this stage never concatenates blobs."""
    keep_names = [f.name for f in df.schema.fields if f.name != blob_col]
    fields = ", ".join(
        f.name + " " + f.dataType.simpleString()
        for f in df.schema.fields if f.name != blob_col
    )

    def run(batches):
        for pdf in batches:
            metas, feats, errs = [], [], []
            for b in pdf[blob_col]:
                meta = parse_media_header(b)
                metas.append(meta)
                try:
                    img = decode_image(b, meta)
                    h, w, _ = img.shape
                    yi = (np.arange(size) * h // size).clip(0, h - 1)
                    xi = (np.arange(size) * w // size).clip(0, w - 1)
                    thumb = img[np.ix_(yi, xi)].mean(axis=2)
                    feats.append([float(v) for v in thumb.ravel()])
                    errs.append(None)
                except (NotImplementedError, ValueError) as e:
                    feats.append(None)
                    errs.append(str(e)[:80])
            out = pdf[keep_names].copy()
            mdf = pd.DataFrame(metas)
            for col in ("media_ok", "media_format", "width", "height",
                        "channels", "n_bytes", "media_error"):
                out[col] = mdf[col].to_numpy()
            out["thumb"] = feats
            out["decode_error"] = errs
            yield out

    return df.mapInPandas(
        run,
        fields + ", " + MEDIA_META_SCHEMA + ", thumb array<double>, decode_error string",
    )


# ---------------------------------------------------------------------------
# Audio (WAV PCM) and video (MJPEG elementary stream) — same contracts:
# header-parse before decode, error-as-data, ONE fused Arrow stage each.
# ---------------------------------------------------------------------------

AUDIO_META_SCHEMA = (
    "audio_ok boolean, audio_format string, channels int, sample_rate int, "
    "n_samples bigint, audio_error string"
)


def with_audio_features(df, blob_col: str = "audio"):
    """Metadata + features for WAV audio blobs in ONE fused Arrow stage.

    Appends AUDIO_META_SCHEMA plus `duration_s` (n_samples / rate),
    `peak_amp` (max |sample|) and `mean_abs` (mean |sample| across all
    channels) — integer-derived, so a generation-rule oracle can emit them
    exactly. Undecodable rows keep whatever the header parse recovered and
    NULL features, with the error recorded (never a stage failure). The
    blob is projected away.
    """
    from core_spark.functions.wav import decode_wav, wav_header

    keep_names = [f.name for f in df.schema.fields if f.name != blob_col]
    fields = ", ".join(
        f.name + " " + f.dataType.simpleString()
        for f in df.schema.fields if f.name != blob_col
    )

    def run(batches):
        for pdf in batches:
            metas, durs, peaks, means, errs = [], [], [], [], []
            for b in pdf[blob_col]:
                meta = wav_header(b)
                metas.append(meta)
                if not meta["audio_ok"]:
                    durs.append(None); peaks.append(None); means.append(None)
                    errs.append(meta["audio_error"])
                    continue
                try:
                    arr, rate = decode_wav(b)
                    ns = arr.shape[0]
                    if ns == 0:
                        durs.append(0.0); peaks.append(None); means.append(None)
                        errs.append(None)
                    else:
                        a = np.abs(arr.astype(np.int64))
                        durs.append(ns / rate)
                        peaks.append(int(a.max()))
                        means.append(float(a.mean()))
                        errs.append(None)
                except (NotImplementedError, ValueError) as e:
                    durs.append(None); peaks.append(None); means.append(None)
                    errs.append(str(e)[:80])
            out = pdf[keep_names].copy()
            mdf = pd.DataFrame(metas)
            for col in ("audio_ok", "audio_format", "channels",
                        "sample_rate", "n_samples"):
                out[col] = mdf[col].to_numpy()
            out["audio_error"] = errs
            out["duration_s"] = durs
            out["peak_amp"] = peaks
            out["mean_abs"] = means
            yield out

    return df.mapInPandas(
        run,
        fields + ", " + AUDIO_META_SCHEMA
        + ", duration_s double, peak_amp int, mean_abs double",
    )


def with_video_frames(df, blob_col: str = "video", every: int = 1):
    """Frame-sample an MJPEG elementary stream (concatenated baseline
    JPEGs) in ONE fused Arrow stage: split frames (marker-aware,
    functions/jpeg.py:frame_spans_mjpeg), decode every ``every``-th frame,
    emit one row per SAMPLED frame with its dimensions and mean intensity.
    Corrupt/unsupported streams emit a single error row (video_ok=false,
    NULL frame fields) — error-as-data, never a stage failure. Per-doc
    output is transactional: a decode failure on ANY sampled frame
    replaces that doc's partial frame rows with its one error row, so a
    doc never mixes ok and error rows. The blob is projected away; output
    can exceed input rows (a frame explode).
    """
    from core_spark.functions.jpeg import decode_jpeg, frame_spans_mjpeg

    if every < 1:
        raise ValueError(f"every must be >= 1, got {every}")
    keep_names = [f.name for f in df.schema.fields if f.name != blob_col]
    fields = ", ".join(
        f.name + " " + f.dataType.simpleString()
        for f in df.schema.fields if f.name != blob_col
    )

    def run(batches):
        for pdf in batches:
            rows = []
            keep_vals = [pdf[k].to_numpy() for k in keep_names]
            for ri, b in enumerate(pdf[blob_col]):
                base = {k: vals[ri] for k, vals in zip(keep_names, keep_vals)}
                doc_start = len(rows)
                try:
                    if b is None:
                        raise ValueError("null_blob")
                    bb = bytes(b)
                    spans = frame_spans_mjpeg(bb)
                    if not spans:  # zero-frame stream: keep the row visible
                        rows.append({**base, "video_ok": True, "n_frames": 0,
                                     "frame_idx": None, "frame_w": None,
                                     "frame_h": None, "frame_mean": None,
                                     "video_error": None})
                        continue
                    for i in range(0, len(spans), every):
                        s, e = spans[i]
                        img = decode_jpeg(bb[s:e])
                        h, w = img.shape[:2]
                        rows.append({**base, "video_ok": True,
                                     "n_frames": len(spans), "frame_idx": i,
                                     "frame_w": w, "frame_h": h,
                                     "frame_mean": float(img.mean()),
                                     "video_error": None})
                except (NotImplementedError, ValueError) as e:
                    del rows[doc_start:]  # drop partial frame rows: per-doc all-or-error
                    rows.append({**base, "video_ok": False, "n_frames": None,
                                 "frame_idx": None, "frame_w": None,
                                 "frame_h": None, "frame_mean": None,
                                 "video_error": str(e)[:80]})
            cols = keep_names + ["video_ok", "n_frames", "frame_idx",
                                 "frame_w", "frame_h", "frame_mean",
                                 "video_error"]
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(
        run,
        fields + ", video_ok boolean, n_frames int, frame_idx int, "
        "frame_w int, frame_h int, frame_mean double, video_error string",
    )
