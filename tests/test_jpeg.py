"""Baseline JPEG codec tests (core_spark/functions/jpeg.py) + multimodal wiring.

The encoder is fixture-grade but emits real T.81 segments (DQT/SOF0/DHT/DRI/
SOS, byte stuffing, RSTn), so decoding a fixture exercises the same general
paths a camera JPEG would take. The exactness cases pin the determinism
contract the media_pipeline driver oracle depends on: constant gray-valued
images with v ≡ 128 (mod 5) survive the flat-q=10 DC quantization exactly.
"""

import numpy as np
import pytest

from core_spark.functions.jpeg import (
    _C,
    decode_jpeg,
    encode_jpeg,
    jpeg_header,
)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    err = a.astype(float) - b.astype(float)
    mse = (err * err).mean()
    return float("inf") if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_dct_matrix_orthonormal_and_dc_convention():
    assert np.allclose(_C @ _C.T, np.eye(8), atol=1e-12)
    # constant level-shifted block a -> DC exactly 8a (T.81 convention)
    f = np.full((8, 8), 37.0)
    coef = _C @ f @ _C.T
    assert abs(coef[0, 0] - 8 * 37.0) < 1e-9
    assert np.abs(coef).sum() - abs(coef[0, 0]) < 1e-9


@pytest.mark.parametrize("subsample", [False, True])
@pytest.mark.parametrize("restart", [0, 1, 3])
def test_constant_gray_roundtrip_exact(subsample, restart):
    # v = 128 + 5k: DC = 8*(v-128) divisible by q=10 -> bit-exact round trip
    for v in (78, 103, 128, 158, 173):
        img = np.full((33, 31, 3), v, np.uint8)
        out = decode_jpeg(encode_jpeg(img, subsample=subsample,
                                      restart_interval=restart))
        assert out.shape == img.shape
        assert np.array_equal(out, img), (v, subsample, restart)


def test_gradient_color_roundtrip_psnr():
    yy, xx = np.mgrid[0:40, 0:56]
    img = np.stack([(yy * 3 + xx) % 256, (xx * 5) % 256, (yy * 2 + 100) % 256],
                   axis=2).astype(np.uint8)
    assert _psnr(decode_jpeg(encode_jpeg(img)), img) > 40
    assert _psnr(decode_jpeg(encode_jpeg(img, subsample=True)), img) > 35


def test_grayscale_single_channel():
    yy, xx = np.mgrid[0:24, 0:17]
    g = ((yy * 7 + xx * 3) % 256).astype(np.uint8)[:, :, None]
    out = decode_jpeg(encode_jpeg(g))
    assert out.shape == (24, 17, 1)
    assert _psnr(out, g) > 40


def test_restart_markers_match_plain_encoding():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (19, 26, 3), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg(img))
    rst = decode_jpeg(encode_jpeg(img, restart_interval=2))
    assert np.array_equal(plain, rst)


def test_odd_dimensions_and_edge_padding():
    # non-multiple-of-8 (and of-16 for 4:2:0) sizes: output crops exactly
    for shape in [(1, 1, 3), (7, 9, 3), (8, 8, 3), (17, 16, 3)]:
        img = np.full(shape, 153, np.uint8)  # 128+25
        for ss in (False, True):
            out = decode_jpeg(encode_jpeg(img, subsample=ss))
            assert out.shape == shape
            assert np.array_equal(out, img)


def test_header_parse():
    img = np.full((24, 17, 3), 158, np.uint8)
    hdr = jpeg_header(encode_jpeg(img))
    assert hdr == {"media_ok": True, "media_error": None,
                   "media_format": "image/jpeg", "n_bytes": hdr["n_bytes"],
                   "width": 17, "height": 24, "channels": 3}
    ghdr = jpeg_header(encode_jpeg(img[:, :, :1]))
    assert ghdr["channels"] == 1 and ghdr["media_ok"]


def test_progressive_roundtrip_matches_baseline():
    # same quantized coefficients -> identical pixels; covers all four scan
    # kinds (DC first/refine, AC first/refine), EOB runs, ZRL, restarts,
    # 4:2:0 vs 4:4:4, gray vs color, odd sizes
    rng = np.random.default_rng(7)
    for shape in [(8, 8, 3), (17, 23, 3), (16, 16, 1), (7, 9, 3)]:
        for ss in (False, True):
            for ri in (0, 2):
                if shape[2] == 1 and ss:
                    continue
                img = rng.integers(0, 256, shape, dtype=np.uint8)
                base = decode_jpeg(encode_jpeg(img, subsample=ss,
                                               restart_interval=ri))
                prog = decode_jpeg(encode_jpeg(img, subsample=ss,
                                               restart_interval=ri,
                                               progressive=True))
                assert np.array_equal(base, prog), (shape, ss, ri)


def test_progressive_sparse_image_eob_runs():
    # long EOB runs spanning blocks, with correction bits owed inside them
    img = np.zeros((40, 48, 3), np.uint8)
    img[3, 5] = [200, 10, 30]
    img[30, 40] = [5, 250, 100]
    assert np.array_equal(decode_jpeg(encode_jpeg(img)),
                          decode_jpeg(encode_jpeg(img, progressive=True)))


def test_progressive_header_and_flat_exactness():
    img = np.full((24, 24, 3), 153, np.uint8)  # 128+25: survives q=10 flat
    blob = encode_jpeg(img, progressive=True)
    hdr = jpeg_header(blob)
    assert hdr["media_ok"] and hdr["media_error"] is None
    assert (hdr["width"], hdr["height"]) == (24, 24)
    assert np.array_equal(decode_jpeg(blob), img)


def test_progressive_truncation_and_corruption_stay_valueerror():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 33, 3), np.uint8)
    blob = encode_jpeg(img, subsample=True, restart_interval=2,
                       progressive=True)
    for cut in range(2, len(blob), 7):
        try:
            decode_jpeg(blob[:cut])
        except (ValueError, NotImplementedError):
            pass
    for _ in range(60):
        b = bytearray(blob)
        b[rng.integers(2, len(b) - 2)] = rng.integers(0, 256)
        try:
            decode_jpeg(bytes(b))
        except (ValueError, NotImplementedError):
            pass


def test_arithmetic_coding_refused_not_crashed():
    blob = bytearray(encode_jpeg(np.full((8, 8, 3), 158, np.uint8)))
    i = blob.find(bytes([0xFF, 0xC0]))
    blob[i + 1] = 0xC9  # SOF0 -> SOF9 (arithmetic sequential)
    hdr = jpeg_header(bytes(blob))
    assert hdr["media_ok"] is False
    assert hdr["media_error"] == "unsupported_jpeg_variant"
    assert hdr["width"] == 8  # dimensions still extracted
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(blob))


def test_truncation_raises_valueerror_everywhere():
    # every prefix must raise ValueError/NotImplementedError, never
    # IndexError/struct.error — the error-as-data wrapper only catches the
    # former two
    blob = encode_jpeg(np.full((16, 16, 3), 158, np.uint8), restart_interval=1)
    for cut in range(2, len(blob), 7):
        try:
            decode_jpeg(blob[:cut])
        except (ValueError, NotImplementedError):
            pass


def test_garbage_entropy_never_escapes_valueerror():
    blob = bytearray(encode_jpeg(np.full((8, 8, 3), 158, np.uint8)))
    rng = np.random.default_rng(3)
    for _ in range(50):
        b = bytearray(blob)
        j = rng.integers(2, len(b) - 2)
        b[j] = rng.integers(0, 256)
        try:
            decode_jpeg(bytes(b))
        except (ValueError, NotImplementedError):
            pass


def test_decode_image_dispatch_and_thumbnail_integration():
    from core_spark.operators.multimodal import (
        decode_image,
        encode_fake_image,
        encode_png,
        parse_media_header,
    )

    img = np.full((16, 12, 3), 173, np.uint8)
    jb = encode_jpeg(img)
    meta = parse_media_header(jb)
    assert np.array_equal(decode_image(jb, meta), img)
    assert meta["media_ok"] and meta["media_format"] == "image/jpeg"
    assert meta["width"] == 12 and meta["height"] == 16
    # all three codecs agree on the same constant image
    for blob in (encode_png(img), encode_fake_image(img)):
        assert np.array_equal(decode_image(blob, parse_media_header(blob)), img)
