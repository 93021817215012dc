"""Training-data operator tests: text stats, dedup families, ANN, multimodal.

Every SQL-expressible operator is checked Spark-vs-DuckDB here at unit scale
(the driver's oracle repeats this at sf0.01 via __spark_entry__).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from core_spark.functions import textstats as ts
from core_spark.operators import dedup as dd
from core_spark.operators.multimodal import (
    decode_image,
    encode_fake_image,
    encode_png,
    parse_media_header,
)

DOCS = pd.DataFrame(
    {
        "doc_id": range(8),
        "text": [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy dog",   # exact dup of 0
            "the quick brown fox jumps over a lazy dog",     # near dup of 0
            "der Hund ist nicht und der die das hier",
            "le chat est sur la table et les livres",
            "completely different content about spark engines",
            "",
            "one",
        ],
    }
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.register("docs", DOCS)
    return con


class TestKernels:
    def test_simhash_properties(self):
        a = dd.simhash64("the quick brown fox".split())
        b = dd.simhash64("the quick brown fox".split())
        c = dd.simhash64("totally unrelated words here".split())
        assert a == b
        assert a != c
        near = dd.simhash64("the quick brown foxes".split())
        ham_near = bin((a ^ near) & ((1 << 64) - 1)).count("1")
        ham_far = bin((a ^ c) & ((1 << 64) - 1)).count("1")
        assert ham_near < ham_far

    def test_media_header_roundtrip(self):
        img = (np.arange(2 * 3 * 3) % 256).astype(np.uint8).reshape(2, 3, 3)
        blob = encode_fake_image(img)
        meta = parse_media_header(blob)
        assert meta["media_ok"] and (meta["width"], meta["height"]) == (3, 2)
        assert np.array_equal(decode_image(blob, meta), img)
        # error-as-data, never raises
        assert parse_media_header(None)["media_error"] == "null_blob"
        assert parse_media_header(blob[:10])["media_error"] == "truncated_header"
        assert parse_media_header(blob[:-1])["media_error"] == "truncated_payload"
        assert parse_media_header(b"\x89PNG\r\n\x1a\nxxxx")["media_format"] == "image/png"
        # corrupt PNG body -> error-as-data ValueError, not a crash
        corrupt = b"\x89PNG\r\n\x1a\n" + b"0" * 100
        with pytest.raises(ValueError):
            decode_image(corrupt, parse_media_header(corrupt))
        # well-formed chunks but zlib-corrupt IDAT -> ValueError, not zlib.error
        good = encode_png(np.zeros((3, 3, 3), np.uint8))
        idat_at = good.index(b"IDAT")
        bad = bytearray(good)
        bad[idat_at + 4:idat_at + 12] = b"\x00" * 8  # clobber the deflate stream
        with pytest.raises(ValueError, match="png_bad_idat"):
            decode_image(bytes(bad), parse_media_header(bytes(bad)))
        # corrupt JPEG body -> error-as-data ValueError, not a crash
        corrupt = b"\xff\xd8\xff" + b"0" * 100
        with pytest.raises(ValueError):
            decode_image(corrupt, parse_media_header(corrupt))
        # real baseline JPEG decodes (codec in functions/jpeg.py)
        from core_spark.functions.jpeg import encode_jpeg

        jimg = np.full((6, 5, 3), 158, np.uint8)
        jblob = encode_jpeg(jimg)
        jmeta = parse_media_header(jblob)
        assert jmeta["media_ok"] and jmeta["media_format"] == "image/jpeg"
        assert np.array_equal(decode_image(jblob, jmeta), jimg)

    def test_png_roundtrip_all_color_types(self):
        from core_spark.operators.multimodal import encode_png

        rng = np.random.RandomState(7)
        for c in (1, 2, 3, 4):
            img = rng.randint(0, 256, size=(5, 4, c), dtype=np.uint8)
            blob = encode_png(img)
            meta = parse_media_header(blob)
            assert meta["media_ok"] and meta["media_format"] == "image/png"
            assert (meta["width"], meta["height"], meta["channels"]) == (4, 5, c)
            assert np.array_equal(decode_image(blob, meta), img)

    def test_png_filters_1_to_4(self):
        """Hand-filter each scanline with a different filter type (the
        encoder only emits 0) and require exact reconstruction."""
        import struct
        import zlib

        from core_spark.operators.multimodal import PNG_MAGIC

        rng = np.random.RandomState(11)
        img = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
        h, w, c = img.shape
        bpp = c

        def paeth(a, b, cc):
            p = a + b - cc
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
            return a if pa <= pb and pa <= pc else (b if pb <= pc else cc)

        raw = bytearray()
        flat = img.reshape(h, w * bpp).astype(int)
        for y, ft in enumerate([0, 1, 2, 3, 4]):
            row = flat[y]
            prev = flat[y - 1] if y else np.zeros(w * bpp, dtype=int)
            raw.append(ft)
            for i in range(w * bpp):
                left = row[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                if ft == 0:
                    v = row[i]
                elif ft == 1:
                    v = row[i] - left
                elif ft == 2:
                    v = row[i] - prev[i]
                elif ft == 3:
                    v = row[i] - ((left + prev[i]) >> 1)
                else:
                    v = row[i] - paeth(left, prev[i], ul)
                raw.append(v & 0xFF)

        def chunk(ctype, data):
            body = ctype + data
            return struct.pack(">I", len(data)) + body + struct.pack(
                ">I", zlib.crc32(body) & 0xFFFFFFFF)

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        blob = (PNG_MAGIC + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))
        assert np.array_equal(decode_image(blob, parse_media_header(blob)), img)

    def test_png_palette(self):
        import struct
        import zlib

        from core_spark.operators.multimodal import PNG_MAGIC

        pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
        idx = np.array([[0, 1, 2], [2, 1, 0]], dtype=np.uint8)

        def chunk(ctype, data):
            body = ctype + data
            return struct.pack(">I", len(data)) + body + struct.pack(
                ">I", zlib.crc32(body) & 0xFFFFFFFF)

        ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)
        raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
        blob = (PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"PLTE", pal.tobytes())
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
        meta = parse_media_header(blob)
        assert meta["media_ok"] and meta["channels"] == 3
        assert np.array_equal(decode_image(blob, meta), pal[idx])

    def test_png_unsupported_variants_and_truncation(self):
        import struct
        import zlib

        from core_spark.operators.multimodal import PNG_MAGIC, encode_png

        def chunk(ctype, data):
            body = ctype + data
            return struct.pack(">I", len(data)) + body + struct.pack(
                ">I", zlib.crc32(body) & 0xFFFFFFFF)

        # spec-illegal combo (2-bit RGB) -> metadata parses, decode raises
        # NotImplementedError (16-bit and interlaced are now DECODED; the
        # dedicated round-trip tests below cover them)
        ihdr_bad = struct.pack(">IIBBBBB", 2, 2, 2, 2, 0, 0, 0)
        blob_bad = (PNG_MAGIC + chunk(b"IHDR", ihdr_bad)
                    + chunk(b"IDAT", zlib.compress(b"\x00" * 26))
                    + chunk(b"IEND", b""))
        meta = parse_media_header(blob_bad)
        assert not meta["media_ok"]
        assert meta["media_error"] == "unsupported_png_variant"
        assert (meta["width"], meta["height"]) == (2, 2)
        with pytest.raises(NotImplementedError):
            decode_image(blob_bad, meta)
        # IDAT that inflates to fewer bytes than h*(stride+1) -> ValueError
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
        short = (PNG_MAGIC + chunk(b"IHDR", ihdr)
                 + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
                 + chunk(b"IEND", b""))
        with pytest.raises(ValueError):
            decode_image(short, parse_media_header(short))
        # missing IDAT entirely -> ValueError
        noidat = PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
        with pytest.raises(ValueError):
            decode_image(noidat, parse_media_header(noidat))

    @staticmethod
    def _png_blob(w, h, depth, color, interlace, raw, plte=None):
        import struct
        import zlib

        from core_spark.operators.multimodal import PNG_MAGIC

        def chunk(ctype, data):
            body = ctype + data
            return struct.pack(">I", len(data)) + body + struct.pack(
                ">I", zlib.crc32(body) & 0xFFFFFFFF)

        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        out = PNG_MAGIC + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    def test_png_16bit_decodes_to_high_byte(self):
        rng = np.random.RandomState(3)
        img16 = rng.randint(0, 65536, size=(4, 5, 3), dtype=np.uint16)
        raw = b"".join(
            b"\x00" + img16[y].astype(">u2").tobytes() for y in range(4))
        blob = self._png_blob(5, 4, 16, 2, 0, raw)
        meta = parse_media_header(blob)
        assert meta["media_ok"] and meta["channels"] == 3
        assert np.array_equal(decode_image(blob, meta), (img16 >> 8).astype(np.uint8))
        # 16-bit gray-alpha too (raw channels 2)
        ga16 = rng.randint(0, 65536, size=(3, 2, 2), dtype=np.uint16)
        raw = b"".join(b"\x00" + ga16[y].astype(">u2").tobytes() for y in range(3))
        blob = self._png_blob(2, 3, 16, 4, 0, raw)
        got = decode_image(blob, parse_media_header(blob))
        assert np.array_equal(got, (ga16 >> 8).astype(np.uint8))

    def test_png_subbyte_gray_and_palette(self):
        # 4-bit gray: samples scale by 17; odd width exercises row padding
        g4 = np.array([[0, 15, 7], [3, 8, 1]], dtype=np.uint8)
        raw = b"".join(
            b"\x00" + np.packbits(
                np.unpackbits(g4[y].reshape(-1, 1), axis=1)[:, 4:].ravel()
            ).tobytes()
            for y in range(2))
        blob = self._png_blob(3, 2, 4, 0, 0, raw)
        assert np.array_equal(decode_image(blob, parse_media_header(blob)), (g4 * 17)[:, :, None])
        # 1-bit gray: 0/255
        g1 = np.array([[1, 0, 1, 1, 0]], dtype=np.uint8)
        raw = b"\x00" + np.packbits(g1.ravel()).tobytes()
        blob = self._png_blob(5, 1, 1, 0, 0, raw)
        assert np.array_equal(decode_image(blob, parse_media_header(blob)), (g1 * 255)[:, :, None])
        # 2-bit palette indices
        pal = np.array([[9, 8, 7], [1, 2, 3], [250, 0, 250], [0, 0, 0]],
                       dtype=np.uint8)
        idx = np.array([[0, 3, 2], [1, 1, 0]], dtype=np.uint8)
        raw = b"".join(
            b"\x00" + np.packbits(
                np.unpackbits(idx[y].reshape(-1, 1), axis=1)[:, 6:].ravel()
            ).tobytes()
            for y in range(2))
        blob = self._png_blob(3, 2, 2, 3, 0, raw, plte=pal.tobytes())
        got = decode_image(blob, parse_media_header(blob))
        assert np.array_equal(got, pal[idx])

    def test_png_adam7_interlace_roundtrip(self):
        from core_spark.operators.multimodal import _ADAM7

        rng = np.random.RandomState(5)
        # sizes straddling the 8x8 interlace tile: some passes empty, some
        # single-pixel
        for (h, w, c, color) in [(9, 10, 3, 2), (4, 3, 1, 0), (8, 8, 4, 6),
                                 (1, 1, 3, 2), (2, 11, 2, 4)]:
            img = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)
            raw = bytearray()
            for x0, y0, dx, dy in _ADAM7:
                sub = img[y0::dy, x0::dx]
                if sub.shape[0] == 0 or sub.shape[1] == 0:
                    continue
                for y in range(sub.shape[0]):
                    raw += b"\x00" + sub[y].tobytes()
            blob = self._png_blob(w, h, 8, color, 1, bytes(raw))
            meta = parse_media_header(blob)
            assert meta["media_ok"], (h, w, c)
            assert np.array_equal(decode_image(blob, meta), img), (h, w, c)
        # interlaced + truncated stream still surfaces as ValueError
        blob = self._png_blob(10, 9, 8, 2, 1, b"\x00" * 8)
        with pytest.raises(ValueError):
            decode_image(blob, parse_media_header(blob))


@pytest.mark.spark
class TestTextStatsParity:
    def test_quality_cols_match_duckdb(self, spark, duck):
        sdf = spark.createDataFrame(DOCS)
        got = (
            sdf.selectExpr(
                "doc_id",
                *[f"{e} AS {k}" for k, e in ts.spark_quality_cols("text").items()],
            )
            .orderBy("doc_id")
            .toPandas()
        )
        want = duck.sql(
            "SELECT doc_id, "
            + ", ".join(f"{e} AS {k}" for k, e in ts.duck_quality_cols("text").items())
            + " FROM docs ORDER BY doc_id"
        ).df()
        for col in got.columns:
            if got[col].dtype == float:
                assert np.allclose(got[col], want[col], equal_nan=True), col
            else:
                assert got[col].astype("int64").tolist() == want[col].astype("int64").tolist(), col

    def test_lang_id_portable(self, spark, duck):
        expr = ts.sql_lang_id("text")
        sdf = spark.createDataFrame(DOCS)
        got = sdf.selectExpr("doc_id", f"{expr} AS lang_pred").orderBy("doc_id").toPandas()
        want = duck.sql(f"SELECT doc_id, {expr} AS lang_pred FROM docs ORDER BY doc_id").df()
        assert got["lang_pred"].tolist() == want["lang_pred"].tolist()
        assert got["lang_pred"].tolist()[0] == "en"
        assert got["lang_pred"].tolist()[3] == "de"
        assert got["lang_pred"].tolist()[4] == "fr"

    def test_lang_id_steps_equiv_monolith(self, spark):
        """Stepwise arg-max emission (lang_id_steps) must agree with the
        monolithic CASE cascade (sql_lang_id) on ties, NULL, empty, no-hit,
        and genuine multi-language rows — the oracle keeps the monolith, so
        this equivalence is what licenses the Spark-side swap."""
        from core_spark.functions.hexgrid import apply_steps

        rows = [
            (1, "the cat and the dog that is here"),          # en
            (2, "der hund und die katze ist nicht da"),       # de
            (3, None),                                        # NULL -> und
            (4, ""),                                          # empty -> und
            (5, "xyzzy plugh 12345"),                         # no marker -> und
            (6, " the la "),                                  # en/fr tie -> first listed (en)
            (7, " que es "),                                  # es/pt tie on 'que'
            (8, " de la le et est les "),                     # fr-heavy
            (9, " и в не что это "),                          # ru
            (10, "o de que é uma coisa"),                # pt
        ]
        sdf = spark.createDataFrame(rows, "doc_id bigint, text string")
        mono = {
            r.doc_id: r.m
            for r in sdf.selectExpr("doc_id", f"{ts.sql_lang_id('text')} AS m").collect()
        }
        step = {
            r.doc_id: r.lang_pred
            for r in apply_steps(sdf, ts.lang_id_steps("text")).collect()
        }
        assert mono == step
        assert step[3] == "und" and step[4] == "und" and step[5] == "und"

    def test_fingerprint_portable(self, spark, duck):
        sdf = spark.createDataFrame(DOCS)
        got = (
            sdf.selectExpr("doc_id", ts.spark_fingerprint("text") + " AS fp")
            .orderBy("doc_id").toPandas()
        )
        want = duck.sql(
            f"SELECT doc_id, {ts.duck_fingerprint('text')} AS fp FROM docs ORDER BY doc_id"
        ).df()
        assert got["fp"].tolist() == want["fp"].tolist()
        assert got["fp"][0] == got["fp"][1]  # exact dups share fingerprint


@pytest.mark.spark
class TestDedupParity:
    def test_exact_dedup(self, spark, duck):
        sdf = spark.createDataFrame(DOCS)
        got = (
            dd.exact_dedup(sdf).orderBy("doc_id").toPandas()
        )
        want = duck.sql(dd.sql_exact_dedup("docs") + " ORDER BY doc_id").df()
        assert got["doc_id"].tolist() == want["doc_id"].tolist()
        assert got["dup_count"].tolist() == want["dup_count"].astype(int).tolist()
        # 8 docs, one exact-dup pair -> 7 groups
        assert len(got) == 7

    def test_ngram_jaccard(self, spark, duck):
        sdf = spark.createDataFrame(DOCS)
        got = (
            dd.ngram_jaccard_pairs(sdf, k=3, threshold=0.5, mode="exact")
            .orderBy("id_a", "id_b").toPandas()
        )
        want = duck.sql(
            dd.sql_ngram_jaccard_pairs("docs", k=3, threshold=0.5)
            + " ORDER BY id_a, id_b"
        ).df()
        assert got["id_a"].tolist() == want["id_a"].tolist()
        assert got["id_b"].tolist() == want["id_b"].tolist()
        assert np.allclose(got["jaccard"], want["jaccard"])
        # the exact-dup pair is found at jaccard 1.0
        exact = got[(got.id_a == 0) & (got.id_b == 1)]
        assert len(exact) == 1 and exact["jaccard"].iloc[0] == 1.0

    def test_ngram_routing(self, spark):
        """auto dispatch (VERDICT r4 #3): t >= 0.7 -> exact AllPairs,
        below -> MinHash-LSH candidates + exact verify. Every routed pair
        must be exact — a subset of the exact plan's pairs with
        identical jaccard — and on this deterministic fixture the chosen
        band parameters (recall floor >= 0.9 at the boundary) recover
        ALL true pairs, so the sets are equal."""
        sdf = spark.createDataFrame(DOCS)

        def pairs(mode):
            rows = dd.ngram_jaccard_pairs(
                sdf, k=3, threshold=0.4, mode=mode
            ).collect()
            return {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}

        exact, routed = pairs("exact"), pairs("lsh_verified")
        assert set(routed) <= set(exact)
        for p, j in routed.items():
            assert abs(j - exact[p]) < 1e-12  # verified = exact values
        assert set(routed) == set(exact)  # measured recall 1.0 here
        # auto == lsh_verified below the route threshold
        assert pairs("auto") == routed
        with pytest.raises(ValueError, match="mode"):
            dd.ngram_jaccard_pairs(sdf, threshold=0.4, mode="bogus").collect()

    def test_lsh_params_for_threshold(self):
        """Band parameters meet the stated recall floor at the threshold
        and prefer larger rows-per-band (fewer false candidates)."""
        for t in (0.3, 0.4, 0.5, 0.6, 0.8):
            rows, bands = dd.lsh_params_for_threshold(t, target_recall=0.9)
            assert dd.lsh_recall_bound(t, bands, rows) >= 0.9
            assert 1 <= rows and 1 <= bands <= 32
        # low thresholds need wider bands but never explode the signature
        r4, b4 = dd.lsh_params_for_threshold(0.4)
        assert r4 * b4 <= 32 * 8

    def test_minhash_lsh(self, spark, duck):
        sdf = spark.createDataFrame(DOCS)
        got = (
            dd.minhash_lsh_pairs(sdf, k=2, n_perm=8, bands=4)
            .orderBy("id_a", "id_b").toPandas()
        )
        want = duck.sql(
            dd.sql_minhash_lsh_pairs("docs", k=2, n_perm=8, bands=4)
            + " ORDER BY id_a, id_b"
        ).df()
        assert got["id_a"].tolist() == want["id_a"].tolist()
        assert got["id_b"].tolist() == want["id_b"].tolist()
        # exact dup pair always collides in every band
        assert (0, 1) in set(zip(got["id_a"], got["id_b"]))

    def test_simhash_stage_and_candidates(self, spark):
        sdf = spark.createDataFrame(DOCS[DOCS.text != ""])
        with_h = dd.with_simhash(sdf)
        pdf = with_h.orderBy("doc_id").toPandas()
        # UDF stage matches pure kernel
        for _, row in pdf.iterrows():
            assert row["simhash"] == dd.simhash64(str(row["text"]).split())
        cands = dd.simhash_candidates(with_h, max_hamming=4).toPandas()
        assert (0, 1) in set(zip(cands["id_a"], cands["id_b"]))
        assert (cands["hamming"] <= 4).all()


@pytest.mark.spark
class TestEmbeddingOps:
    def test_embedding_dup_and_ann(self, spark):
        rng = np.random.default_rng(3)
        base = rng.normal(size=(20, 16))
        vecs = base.copy()
        vecs[5] = base[2] + rng.normal(scale=0.01, size=16)  # near-dup of 2
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
        vdf = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

        from core_spark.operators.similarity import brute_force_topk

        qdf = spark.createDataFrame(
            [(0, [float(x) for x in vecs[2]])], "query_id bigint, qvec array<double>"
        )
        top = (
            brute_force_topk(vdf, qdf, k=3).orderBy("rank").toPandas()
        )
        assert top["vec_id"].tolist()[0] == 2  # itself
        assert 5 in top["vec_id"].tolist()     # its near-dup next

    def test_embedding_dup_pairs_int_matches_numpy(self, spark):
        """Dual implementation: the integer-exact oracled variant must equal
        an independent numpy application of the same generation rules
        (quantize, md5 noise copies, literal planes, integer threshold)."""
        import hashlib

        rng = np.random.default_rng(11)
        dim, n_planes = 16, 4
        X = (rng.normal(size=(30, dim)) * 0.3).astype(np.float32)
        rows = [(i, [float(x) for x in X[i]]) for i in range(30)]
        vdf = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        got = (
            dd.embedding_dup_pairs_int(vdf, dim=dim, n_planes=n_planes)
            .orderBy("id_a", "id_b")
            .toPandas()
        )

        # independent reimplementation
        def md5int(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def quant(x):
            return int(min(max(np.floor(float(np.float64(x)) * dd.EMB_SCALE),
                               -dd.EMB_CLAMP), dd.EMB_CLAMP))

        uni = {}
        for i in range(30):
            uni[i] = np.array([quant(x) for x in X[i]], dtype=np.int64)
            uni[i + dd.EMB_COPY_OFFSET] = np.array(
                [quant(X[i][j]) + md5int(f"{i}_{j + 1}") % dd.EMB_NOISE_MOD
                 - dd.EMB_NOISE_MOD // 2 for j in range(dim)],
                dtype=np.int64,
            )
        planes = np.array(dd.emb_planes(n_planes, dim), dtype=np.int64)
        sketch = {
            k: sum((1 << p) for p in range(n_planes) if planes[p] @ v >= 0)
            for k, v in uni.items()
        }
        want = []
        for a in sorted(uni):
            for b in sorted(uni):
                if a < b and sketch[a] == sketch[b]:
                    dot = int(uni[a] @ uni[b])
                    na2, nb2 = int(uni[a] @ uni[a]), int(uni[b] @ uni[b])
                    if dot > 0 and dd.EMB_T_DEN * dot * dot >= dd.EMB_T_NUM * na2 * nb2:
                        want.append((a, b, dot, na2, nb2))
        assert [tuple(r) for r in got.itertuples(index=False)] == want
        # planted copies must dominate the result (non-trivial positives)
        assert sum(1 for a, b, *_ in want if b - a == dd.EMB_COPY_OFFSET) >= 25

    def test_ivf_recall(self, spark):
        rng = np.random.default_rng(5)
        X = rng.normal(size=(300, 8))
        rows = [(i, [float(v) for v in X[i]]) for i in range(300)]
        vdf = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        queries_pd = pd.DataFrame(
            {
                "query_id": [0, 1],
                "qvec": [[float(v) for v in X[7]], [float(v) for v in X[100]]],
            }
        )
        from core_spark.operators.similarity import brute_force_topk, ivf_topk

        qdf = spark.createDataFrame(queries_pd, "query_id bigint, qvec array<double>")
        exact = brute_force_topk(vdf, qdf, k=5).toPandas()
        approx = ivf_topk(spark, vdf, queries_pd, k=5, n_centroids=8, n_probe=4).toPandas()
        # recall@5 >= 0.6 with half the buckets probed on random data
        for qid in (0, 1):
            e = set(exact[exact.query_id == qid]["vec_id"])
            a = set(approx[approx.query_id == qid]["vec_id"])
            assert len(e & a) >= 3
        # the query vector itself is always found (it sits in a probed bucket)
        assert approx[(approx.query_id == 0) & (approx["rank"] == 1)]["vec_id"].iloc[0] == 7


@pytest.mark.spark
class TestMultimodalStage:
    def test_media_metadata_stage(self, spark):
        from core_spark.operators.multimodal import with_media_features

        from core_spark.functions.jpeg import encode_jpeg

        img = (np.arange(4 * 4 * 3) % 251).astype(np.uint8).reshape(4, 4, 3)
        jimg = np.full((4, 4, 3), 158, np.uint8)  # exact JPEG round trip
        rows = [
            (0, bytearray(encode_fake_image(img))),
            (1, bytearray(encode_jpeg(jimg))),  # real JPEG bytes end-to-end
            (2, None),
            (3, bytearray(encode_png(img))),  # real PNG bytes end-to-end
            (4, bytearray(b"\xff\xd8\xffjpegdata")),  # corrupt JPEG
        ]
        df = spark.createDataFrame(rows, "media_id bigint, media binary")

        out = with_media_features(df, size=2).orderBy("media_id").toPandas()
        assert out["media_ok"].tolist() == [True, True, False, True, False]
        assert out["media_format"].tolist() == [
            "fakeimg/v1", "image/jpeg", None, "image/png", "image/jpeg",
        ]
        assert out["width"].tolist()[0] == 4 and out["width"].tolist()[3] == 4

        assert out["thumb"].iloc[0] is not None and len(out["thumb"].iloc[0]) == 4
        assert out["thumb"].iloc[1] == [158.0] * 4  # constant gray, exact
        assert out["thumb"].iloc[4] is None  # corrupt -> error-as-data
        assert "truncated" in out["decode_error"].iloc[4]
        # PNG decodes to the SAME pixels as the fake codec -> same features
        assert out["thumb"].iloc[3] == out["thumb"].iloc[0]

    def test_fused_features_match_chained(self, spark):
        """with_media_features (ONE Arrow stage) == the pure kernels
        (parse_media_header, decode_image, nearest-neighbour channel-mean
        thumbnail), row for row, on the mixed ok/corrupt/null batch."""
        from core_spark.operators.multimodal import MEDIA_META_SCHEMA, with_media_features

        from core_spark.functions.jpeg import encode_jpeg

        img = (np.arange(6 * 5 * 3) % 241).astype(np.uint8).reshape(6, 5, 3)
        rows = [
            (0, bytearray(encode_fake_image(img))),
            (1, bytearray(encode_jpeg(np.full((4, 4, 3), 103, np.uint8)))),
            (2, None),
            (3, bytearray(encode_png(img))),
            (4, bytearray(b"\xff\xd8\xffjpegdata")),
            (5, bytearray(encode_fake_image(img))[:-3]),  # truncated fake
        ]
        df = spark.createDataFrame(rows, "media_id bigint, media binary")
        size = 3
        meta_cols = [f.split()[0] for f in MEDIA_META_SCHEMA.split(", ")]

        want = []
        for media_id, blob in rows:
            blob = None if blob is None else bytes(blob)
            meta = parse_media_header(blob)
            rec = {"media_id": media_id, **{c: meta[c] for c in meta_cols}}
            try:
                px = decode_image(blob, meta)
                h, w, _ = px.shape
                yi = (np.arange(size) * h // size).clip(0, h - 1)
                xi = (np.arange(size) * w // size).clip(0, w - 1)
                thumb = px[np.ix_(yi, xi)].mean(axis=2)
                rec.update(thumb=[float(v) for v in thumb.ravel()], decode_error=None)
            except (NotImplementedError, ValueError) as e:
                rec.update(thumb=None, decode_error=str(e)[:80])
            want.append(rec)

        fused = with_media_features(df, size=size)
        assert fused.columns == ["media_id", *meta_cols, "thumb", "decode_error"]
        got = [r.asDict() for r in fused.orderBy("media_id").collect()]
        assert got == want
        assert [r["media_ok"] for r in got] == [True, True, False, True, False, False]
        # exactly one Python-worker stage in the fused plan
        plan = fused._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1


@pytest.mark.spark
class TestConnectedComponents:
    def test_chains_and_singletons(self, spark):
        from core_spark.operators.dedup import (
            connected_components,
            dedup_keep_representatives,
        )

        # two chains (1-2-3-4, 10-11) and an isolated pair graph node set
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
            "id_a bigint, id_b bigint",
        )
        comp = {r.node: r.component for r in connected_components(pairs).collect()}
        assert comp[1] == comp[2] == comp[3] == comp[4] == 1
        assert comp[10] == comp[11] == 10
        assert comp[20] == comp[21] == comp[22] == 20

        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]],
            "doc_id bigint, text string",
        )
        kept = sorted(
            r.doc_id for r in dedup_keep_representatives(docs, pairs).collect()
        )
        assert kept == [1, 10, 20, 99]  # one per cluster + untouched 99

    def test_end_to_end_minhash_cluster(self, spark):
        """LSH pairs -> components -> representative set on the dup corpus."""
        from core_spark.operators.dedup import (
            dedup_keep_representatives,
            minhash_lsh_pairs,
        )

        sdf = spark.createDataFrame(DOCS)
        pairs = minhash_lsh_pairs(sdf, k=2, n_perm=8, bands=4)
        kept = dedup_keep_representatives(sdf, pairs)
        kept_ids = {r.doc_id for r in kept.collect()}
        assert 0 in kept_ids and 1 not in kept_ids  # exact dup collapsed to min id

    def test_verify_pairs_jaccard(self, spark):
        """LSH candidates + exact verify keeps only true near-dups."""
        from core_spark.operators.dedup import minhash_lsh_pairs, verify_pairs_jaccard

        sdf = spark.createDataFrame(DOCS)
        cands = minhash_lsh_pairs(sdf, k=2, n_perm=8, bands=4)
        verified = verify_pairs_jaccard(cands, sdf, k=3, threshold=0.5).toPandas()
        got = set(zip(verified["id_a"], verified["id_b"]))
        assert (0, 1) in got            # exact dup survives
        assert all(j >= 0.5 for j in verified["jaccard"])
        # unrelated docs never pass the exact verify even if LSH proposed them
        assert (3, 4) not in got


class TestAdmitNewDocs:
    @pytest.mark.spark
    def test_admission_vs_model(self, spark):
        """New docs admitted iff fp unseen in existing AND first of their
        fp within the batch (min key wins)."""
        from core_spark.operators.dedup import admit_new_docs

        existing = spark.createDataFrame(
            [(0, "A"), (2, "B")], "doc_id long, fp string"
        )
        new = spark.createDataFrame(
            [(1, "A"),            # rejected: fp already in corpus
             (3, "C"), (5, "C"),  # C admitted once, doc 3 wins
             (7, "D")],           # novel
            "doc_id long, fp string",
        )
        got = sorted(
            (r["doc_id"], r["fp"])
            for r in admit_new_docs(existing, new).collect()
        )
        assert got == [(3, "C"), (7, "D")]

    @pytest.mark.spark
    def test_empty_existing_admits_all_winners(self, spark):
        from core_spark.operators.dedup import admit_new_docs

        existing = spark.createDataFrame([], "doc_id long, fp string")
        new = spark.createDataFrame(
            [(4, "X"), (2, "X")], "doc_id long, fp string"
        )
        got = [(r["doc_id"], r["fp"])
               for r in admit_new_docs(existing, new).collect()]
        assert got == [(2, "X")]


class TestKeepBest:
    @pytest.mark.spark
    def test_keep_best_vs_keep_min_id(self, spark):
        """dedup_keep_best keeps the highest-score member per family
        (ties -> lowest id), not the lowest id; unpaired docs always
        survive."""
        rows = [
            (0, "a b"),            # family {0,1,2}: 2 < 5 < 5 tokens
            (1, "a b c d e"),      # winner: longest...
            (2, "a b c d f"),      # ...tie on 5 tokens -> lowest id = 1
            (7, "lonely unpaired document"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2)], "id_a long, id_b long"
        )
        best = sorted(
            r["doc_id"]
            for r in dd.dedup_keep_best(df, pairs, "length(text)").collect()
        )
        assert best == [1, 7]
        rep = sorted(
            r["doc_id"]
            for r in dd.dedup_keep_representatives(df, pairs).collect()
        )
        assert rep == [0, 7]  # min-id policy keeps the SHORT doc

    @pytest.mark.spark
    def test_keep_best_empty_pairs(self, spark):
        df = spark.createDataFrame(
            [(1, "x"), (2, "y z")], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        got = sorted(
            r["doc_id"]
            for r in dd.dedup_keep_best(df, pairs, "length(text)").collect()
        )
        assert got == [1, 2]


class TestBpeTokenCount:
    @pytest.mark.spark
    def test_bpe_count_parity_and_semantics(self, spark, duck):
        """The BPE-ish count (runs of letters/digits or single symbols)
        is engine-identical on unicode/punctuation-heavy text and
        tracks tokenizer segmentation where whitespace counts don't."""
        from core_spark.functions.textstats import (
            duck_bpe_token_count,
            spark_bpe_token_count,
        )

        texts = ["Hello, world!", "", "   ", "one",
                 "ünïcode tökens 3.14 (test)", "a--b..c", None]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [r["n"] for r in df.selectExpr(
            f"{spark_bpe_token_count('text')} AS n").collect()]
        vals = ", ".join(
            "(" + ("NULL" if t is None else "'" + t.replace("'", "''") + "'")
            + ")" for t in texts)
        want = [r[0] for r in duck.execute(
            f"SELECT {duck_bpe_token_count('text')}"
            f" FROM (VALUES {vals}) t(text)").fetchall()]
        assert got == want
        # 'Hello, world!' = Hello , world ! -> 4 (whitespace says 2)
        assert got[0] == 4
        assert got[6] == 0  # NULL-safe


class TestWinnowFingerprint:
    @pytest.mark.spark
    def test_winnow_parity_model_and_moss_property(self, spark, duck):
        """Rolling-hash winnowing: engine-identical arrays, match a
        Python Rabin-Karp+winnow model, and satisfy the MOSS property —
        docs sharing a long substring share fingerprints, unrelated
        docs don't; sub-(w+g-1)-token docs emit none."""
        import functools
        import hashlib

        from core_spark.functions.hexgrid import apply_steps
        from core_spark.functions.textstats import (
            WINNOW_B, WINNOW_G, WINNOW_M, WINNOW_W, winnow_steps,
        )

        texts = [
            "the quick brown fox jumps over the lazy dog today",
            "prefix words here the quick brown fox jumps over the lazy dog",
            "completely different content with other words entirely here",
            "tiny doc", "",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )
        got = {
            r["doc_id"]: list(r["fps"])
            for r in apply_steps(df, winnow_steps("text", "spark"))
            .select("doc_id", "fps").collect()
        }
        vals = ", ".join(
            f"({i}, '{t}')" for i, t in enumerate(texts))
        inner = f"SELECT * FROM (VALUES {vals}) t(doc_id, text)"
        for name, expr in winnow_steps("text", "duckdb"):
            inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
        want = {
            r[0]: list(r[1])
            for r in duck.execute(
                f"SELECT doc_id, fps FROM ({inner})").fetchall()
        }
        assert got == want

        def model(t):
            toks = t.strip().split(" ")
            th = [int(hashlib.md5(x.encode()).hexdigest()[:15], 16)
                  % WINNOW_M for x in toks]
            rh = [functools.reduce(
                lambda a, j: (a * WINNOW_B + th[j]) % WINNOW_M,
                range(i + 1, i + WINNOW_W), th[i])
                for i in range(len(th) - WINNOW_W + 1)]
            return sorted({min(rh[i:i + WINNOW_G])
                           for i in range(len(rh) - WINNOW_G + 1)})

        assert all(got[i] == model(t) for i, t in enumerate(texts))
        assert len(set(got[0]) & set(got[1])) >= 1   # shared substring
        assert not set(got[0]) & set(got[2])         # unrelated
        assert got[3] == [] and got[4] == []         # sub-threshold
