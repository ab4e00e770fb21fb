"""Multimodal tests: REAL pure-numpy image codecs (PPM/PGM/BMP round-trips,
nearest-neighbor resize pixel placement), NotImplementedError gating for
compressed formats, the Arrow batch/schema contract over mapInPandas, and
payloads never surviving into downstream outputs wider than they must."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators import multimodal


@pytest.fixture(scope="module")
def payloads(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(20)
    return multimodal.attach_binary_payload(docs)


@pytest.fixture(scope="module")
def image_payloads(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(20)
    return multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")


def _gradient(h, w):
    return (
        (np.arange(h * w * 3, dtype=np.int64) * 7 % 256)
        .astype(np.uint8)
        .reshape(h, w, 3)
    )


class TestCodecs:
    def test_ppm_roundtrip(self):
        arr = _gradient(5, 9)
        img = multimodal.decode_image(multimodal.encode_ppm(arr))
        assert (img["format"], img["width"], img["height"], img["channels"]) == (
            "ppm", 9, 5, 3,
        )
        assert np.array_equal(img["pixels"], arr)

    def test_pgm_roundtrip(self):
        arr = _gradient(4, 6)[:, :, 0]
        img = multimodal.decode_image(multimodal.encode_ppm(arr))
        assert (img["format"], img["channels"]) == ("pgm", 1)
        assert np.array_equal(img["pixels"], arr)

    def test_bmp_roundtrip(self):
        # Width 5: the 15-byte rows force BMP's 4-byte row padding path.
        arr = _gradient(3, 5)
        img = multimodal.decode_image(multimodal.encode_bmp(arr))
        assert (img["format"], img["width"], img["height"]) == ("bmp", 5, 3)
        assert np.array_equal(img["pixels"], arr)

    def test_ppm_comment_header(self):
        arr = _gradient(2, 2)
        payload = b"P6\n# a comment\n2 2\n255\n" + arr.tobytes()
        assert np.array_equal(multimodal.decode_image(payload)["pixels"], arr)

    def test_bmp_32bit_bgrx(self):
        """32-bit BI_RGB BMP (r12): four bytes per pixel BGRX, the
        fourth byte the spec's reserved pad, dropped like mainstream
        decoders do.  Hand-built payload (our encoder stays 24-bit)."""
        import struct as st

        arr = _gradient(3, 5)
        h, w = arr.shape[:2]
        bgrx = np.zeros((h, w, 4), dtype=np.uint8)
        bgrx[:, :, :3] = arr[::-1, :, ::-1]  # bottom-up, BGR
        bgrx[:, :, 3] = 0xEE  # junk pad the decoder must ignore
        image_size = w * 4 * h
        payload = (
            st.pack("<2sIHHI", b"BM", 14 + 40 + image_size, 0, 0, 54)
            + st.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 32, 0, image_size, 2835, 2835, 0, 0
            )
            + bgrx.tobytes()
        )
        img = multimodal.decode_image(payload)
        assert (img["format"], img["width"], img["height"]) == ("bmp", 5, 3)
        assert np.array_equal(img["pixels"], arr)

    @staticmethod
    def _bmp8(idx_rows: bytes, w, h, palette, compression, image_size):
        """Assemble an 8-bit palettized BMP (BGRX palette after the info
        header; data offset accounts for it)."""
        pal_bytes = b"".join(
            bytes([b, g, r, 0xCC]) for (r, g, b) in palette
        )  # junk in the reserved byte: decoders must drop it
        off = 14 + 40 + len(pal_bytes)
        return (
            struct.pack("<2sIHHI", b"BM", off + image_size, 0, 0, off)
            + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 8, compression, image_size,
                2835, 2835, len(palette), 0,
            )
            + pal_bytes
            + idx_rows
        )

    def test_bmp_8bit_palettized(self):
        """Uncompressed 8-bit palettized BMP (r12): biClrUsed BGRX
        entries follow the info header; rows are 4-byte padded."""
        palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
        # 5x2, stored bottom-up with 3 pad bytes per row
        rows = bytes([0, 1, 2, 3, 0]) + b"\xff" * 3 + bytes(
            [3, 3, 1, 0, 2]
        ) + b"\xff" * 3
        img = multimodal.decode_image(self._bmp8(rows, 5, 2, palette, 0, 16))
        assert (img["width"], img["height"]) == (5, 2)
        expect = np.array(
            [[palette[i] for i in (3, 3, 1, 0, 2)],
             [palette[i] for i in (0, 1, 2, 3, 0)]],
            dtype=np.uint8,
        )
        assert np.array_equal(img["pixels"], expect)

    def test_bmp_rle8(self):
        """BI_RLE8 (r12): encoded runs, absolute mode (word-aligned),
        end-of-line, delta, end-of-bitmap — pixels a delta skips stay
        palette index 0 per the undefined-pixels convention."""
        palette = [(10, 10, 10), (20, 20, 20), (30, 30, 30), (40, 40, 40)]
        rle = bytes(
            [3, 1]                 # run: 1 1 1
            + [0, 3, 2, 3, 2, 0]   # absolute: 2 3 2 (+1 pad byte)
            + [0, 0]               # end of line (stored row 0 done, 6 px)
            + [0, 2, 2, 0]         # delta: skip 2 right on stored row 1
            + [4, 3]               # run: 3 3 3 3
            + [0, 1]               # end of bitmap (row 1 short: rest 0)
        )
        img = multimodal.decode_image(self._bmp8(rle, 6, 2, palette, 1, len(rle)))
        idx_expect = [
            [0, 0, 3, 3, 3, 3],    # image row 0 = stored row 1 (bottom-up)
            [1, 1, 1, 2, 3, 2],
        ]
        expect = np.array(
            [[palette[i] for i in r] for r in idx_expect], dtype=np.uint8
        )
        assert np.array_equal(img["pixels"], expect)

    def test_bmp_rle8_malformed(self):
        palette = [(0, 0, 0)] * 4
        overrun = bytes([9, 1, 0, 1])  # 9 px run into a 6-px row
        with pytest.raises(ValueError):
            multimodal.decode_image(self._bmp8(overrun, 6, 2, palette, 1, 4))
        no_eob = bytes([3, 1, 0, 0])
        with pytest.raises(ValueError):
            multimodal.decode_image(self._bmp8(no_eob, 6, 2, palette, 1, 4))

    def test_ppm_16bit_roundtrip(self):
        """maxval > 255 → two bytes per sample, most significant first
        (Netpbm spec) — the 8-bit-only gate graduated in r12.  Samples
        present RAW at file depth (pixels dtype uint16), the same
        convention as 16-bit PNG."""
        rng = np.random.RandomState(23)
        g16 = rng.randint(0, 65536, size=(4, 7), dtype=np.uint16)
        img = multimodal.decode_image(multimodal.encode_ppm(g16))
        assert (img["format"], img["channels"]) == ("pgm", 1)
        assert img["pixels"].dtype == np.uint16
        assert np.array_equal(img["pixels"], g16)
        c16 = rng.randint(0, 65536, size=(3, 5, 3), dtype=np.uint16)
        assert np.array_equal(
            multimodal.decode_image(multimodal.encode_ppm(c16))["pixels"], c16
        )
        # byte order is the spec's, not the platform's: the MSB leads
        one = np.array([[0x0102]], dtype=np.uint16)
        assert multimodal.encode_ppm(one).endswith(b"\x01\x02")
        # an out-of-spec maxval is malformed, not a seam
        with pytest.raises(ValueError, match="maxval"):
            multimodal._decode_ppm(b"P5\n1 1\n70000\n\x00\x00")

    def test_compressed_formats_gated(self):
        # Every shipped format decodes for real now (TestPng, TestGif,
        # TestJpeg) — malformed payloads are ValueErrors from the real
        # parsers, and non-baseline JPEG variants raise
        # NotImplementedError inside the codec, not at the dispatch.
        with pytest.raises(ValueError):
            multimodal.decode_image(b"\xff\xd8\xff\xe0rest")
        with pytest.raises(ValueError):
            multimodal.decode_image(b"GIF89arest")

    def test_unknown_payload_rejected(self):
        with pytest.raises(ValueError):
            multimodal.decode_image(b"not an image")

    def test_resize_pixel_placement(self):
        # 2x2 checkerboard -> 4x4: each source pixel becomes a 2x2 block.
        arr = np.zeros((2, 2, 3), dtype=np.uint8)
        arr[0, 1] = arr[1, 0] = 255
        out = multimodal.decode_image(
            multimodal.resize_image(multimodal.encode_ppm(arr), 4, 4)
        )["pixels"]
        expect = arr.repeat(2, axis=0).repeat(2, axis=1)
        assert np.array_equal(out, expect)

    def test_resize_identity(self):
        arr = _gradient(6, 7)
        payload = multimodal.encode_ppm(arr)
        assert multimodal.resize_image(payload, 7, 6) == payload

    def test_resize_preserves_bmp_format(self):
        arr = _gradient(4, 4)
        out = multimodal.resize_image(multimodal.encode_bmp(arr), 2, 2)
        assert out[:2] == b"BM"

    def test_synthesize_matches_oracle_contract(self):
        text = "hello multimodal"
        raw = text.encode()
        img = multimodal.decode_image(multimodal.synthesize_ppm(text))
        assert img["width"] == 4 + len(raw) % 5
        assert img["height"] == 4 + (7 * len(raw)) % 5


class TestPng:
    """Stdlib PNG codec: zlib inflate + numpy scanline unfilter
    (VERDICT r5 Next #4 — the compressed-image decode gap)."""

    def test_roundtrip_gray_rgb_rgba(self):
        rng = np.random.RandomState(7)
        for shape in [(5, 9), (7, 4, 3), (6, 5, 4)]:
            arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
            img = multimodal.decode_image(multimodal.encode_png(arr))
            assert img["format"] == "png"
            assert np.array_equal(img["pixels"], arr), shape

    def test_explicit_depth_is_honored(self):
        """r11 ADVICE: encode_png used to re-derive depth from dtype and
        silently ignore an explicit 8/16."""
        rng = np.random.RandomState(13)
        u8 = rng.randint(0, 256, size=(4, 5), dtype=np.uint8)
        px16 = multimodal._decode_png(multimodal.encode_png(u8, depth=16))
        assert px16.dtype == np.uint16
        assert np.array_equal(px16, u8.astype(np.uint16))
        small16 = rng.randint(0, 256, size=(3, 4), dtype=np.uint16)
        px8 = multimodal._decode_png(multimodal.encode_png(small16, depth=8))
        assert px8.dtype == np.uint8
        assert np.array_equal(px8, small16.astype(np.uint8))
        wide16 = np.array([[300, 5]], dtype=np.uint16)
        with pytest.raises(ValueError, match="exceed 255"):
            multimodal.encode_png(wide16, depth=8)

    def test_all_filter_types_and_chunked_idat(self):
        """Decode a PNG whose five scanlines use filter types 0-4 (our
        encoder only emits 0, so the filtered payload is hand-built) and
        whose IDAT stream is split across two chunks."""
        import struct
        import zlib

        rng = np.random.RandomState(11)
        arr = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
        h, w, ch = arr.shape
        bpp = ch
        flat = arr.reshape(h, w * ch).astype(np.int64)
        lines = []
        for y, ftype in enumerate([0, 1, 2, 3, 4]):
            cur = flat[y]
            prev = flat[y - 1] if y else np.zeros(w * ch, np.int64)
            left = np.concatenate([np.zeros(bpp, np.int64), cur[:-bpp]])
            if ftype == 0:
                filt = cur
            elif ftype == 1:
                filt = (cur - left) % 256
            elif ftype == 2:
                filt = (cur - prev) % 256
            elif ftype == 3:
                filt = (cur - (left + prev) // 2) % 256
            else:  # Paeth
                filt = np.zeros(w * ch, np.int64)
                for x in range(w * ch):
                    a = cur[x - bpp] if x >= bpp else 0
                    b = prev[x]
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    filt[x] = (cur[x] - pred) % 256
            lines.append(bytes([ftype]) + bytes(filt.astype(np.uint8)))
        comp = zlib.compress(b"".join(lines))
        mid = len(comp) // 2
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"IDAT", comp[:mid])
            + multimodal._png_chunk(b"IDAT", comp[mid:])
            + multimodal._png_chunk(b"IEND", b"")
        )
        assert np.array_equal(multimodal._decode_png(payload), arr)

    def test_unsupported_variants_gated(self):
        """Every named seam has graduated (interlaced and palette in r9,
        16-bit and sub-byte in r11, interlaced sub-byte in r12 —
        TestPngAdam7/TestPngPalette/TestPngSubByte); what remains gated
        is the genuinely exotic: nonsense depths.  Spec-invalid
        depth/color combinations are malformed (ValueError), not
        seams."""
        import struct
        import zlib

        comp = zlib.compress(b"\x00" * (2 * 7))

        def payload_for(depth, color, interlace):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)
            return (
                multimodal._PNG_SIG
                + multimodal._png_chunk(b"IHDR", ihdr)
                + multimodal._png_chunk(b"IDAT", comp)
                + multimodal._png_chunk(b"IEND", b"")
            )

        for depth, color, interlace in [(3, 0, 0), (32, 2, 0)]:
            with pytest.raises(NotImplementedError):
                multimodal._decode_png(payload_for(depth, color, interlace))
        # sub-byte on a truecolor type is spec-invalid, not a seam
        with pytest.raises(ValueError, match="invalid"):
            multimodal._decode_png(payload_for(4, 2, 0))
        # Truncated / chunkless payloads are malformed, not unsupported.
        with pytest.raises(ValueError):
            multimodal.decode_image(multimodal._PNG_SIG)

    def test_synthesize_png_pixel_parity_with_ppm(self):
        """synthesize_png and synthesize_ppm share the pixel contract — the
        in-query gate of mm_png_features."""
        text = "hello compressed world"
        png = multimodal.decode_image(multimodal.synthesize_png(text))
        ppm = multimodal.decode_image(multimodal.synthesize_ppm(text))
        assert np.array_equal(png["pixels"], ppm["pixels"])
        assert (png["width"], png["height"]) == (ppm["width"], ppm["height"])

    def test_png_resize_reencodes_png(self):
        arr = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3) % 256
        out = multimodal.resize_image(multimodal.encode_png(arr), 3, 2)
        img = multimodal.decode_image(out)
        assert img["format"] == "png"
        assert (img["width"], img["height"]) == (3, 2)


class TestPngAdam7:
    """Adam7 interlaced PNG (RFC 2083 §2.6): pass-grid reassembly with
    per-pass independent filtering — the progressive layout real PNG
    optimizers emit (graduated from the NotImplementedError seam in r9)."""

    def test_roundtrip_shapes_and_channels(self):
        rng = np.random.RandomState(13)
        # includes dims where several passes are empty (w or h < 5)
        for shape in [(1, 1, 3), (2, 3), (3, 3, 3), (5, 7, 2), (8, 8, 3),
                      (9, 13, 3), (16, 5), (31, 17, 4)]:
            arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
            payload = multimodal.encode_png(arr, interlace=True)
            img = multimodal.decode_image(payload)
            assert img["format"] == "png"
            assert np.array_equal(img["pixels"], arr), shape

    def test_interlaced_equals_sequential_decode(self):
        rng = np.random.RandomState(17)
        arr = rng.randint(0, 256, size=(12, 11, 3), dtype=np.uint8)
        seq = multimodal._decode_png(multimodal.encode_png(arr))
        inter = multimodal._decode_png(multimodal.encode_png(arr, interlace=True))
        assert np.array_equal(seq, inter)

    def test_hand_built_stream_with_per_pass_filters(self):
        """Decode an Adam7 stream built INDEPENDENTLY of the encoder:
        each pass filters its rows with Up (type 2) after the first —
        proves filtering state resets per pass, not per image."""
        import struct
        import zlib

        img = np.arange(9 * 9, dtype=np.uint8).reshape(9, 9) * 3 % 256
        parts = []
        for r0, c0, rs, cs, pw, ph in multimodal._adam7_dims(9, 9):
            if pw == 0 or ph == 0:
                continue
            sub = img[r0::rs, c0::cs].astype(np.int64)
            prev = np.zeros(pw, np.int64)
            for y in range(ph):
                if y == 0:
                    parts.append(bytes([0]) + bytes(sub[y].astype(np.uint8)))
                else:
                    parts.append(
                        bytes([2]) + bytes(((sub[y] - prev) % 256).astype(np.uint8))
                    )
                prev = sub[y]
        ihdr = struct.pack(">IIBBBBB", 9, 9, 8, 0, 0, 0, 1)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"IDAT", zlib.compress(b"".join(parts)))
            + multimodal._png_chunk(b"IEND", b"")
        )
        assert np.array_equal(multimodal._decode_png(payload), img)

    def test_pass_layout_mismatch_raises(self):
        import struct
        import zlib

        # 2x2 RGB interlaced needs 15 pass bytes; give it 14 (the
        # sequential layout) and 16 (one extra) — both malformed
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
        for n in (14, 16):
            payload = (
                multimodal._PNG_SIG
                + multimodal._png_chunk(b"IHDR", ihdr)
                + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00" * n))
                + multimodal._png_chunk(b"IEND", b"")
            )
            with pytest.raises(ValueError):
                multimodal._decode_png(payload)

    def test_synthesize_interlaced_pixel_parity(self):
        text = "adam seven interlace"
        inter = multimodal.decode_image(multimodal.synthesize_png(text, interlace=True))
        ppm = multimodal.decode_image(multimodal.synthesize_ppm(text))
        assert np.array_equal(inter["pixels"], ppm["pixels"])


class TestPngPalette:
    """Indexed-color (type 3) PNG: PLTE lookup after unfilter, combined
    with Adam7, plus the index-overflow and tRNS guards."""

    def test_roundtrip_sequential_and_interlaced(self):
        rng = np.random.RandomState(19)
        for shape in [(3, 3, 3), (8, 5, 3), (9, 13, 3)]:
            base = rng.randint(0, 6, size=shape).astype(np.uint8) * 40
            for interlace in (False, True):
                enc = multimodal.encode_png_palette(base, interlace=interlace)
                img = multimodal.decode_image(enc)
                assert img["format"] == "png"
                assert np.array_equal(img["pixels"], base), (shape, interlace)

    def test_greyscale_expands_to_rgb(self):
        base = (np.arange(12, dtype=np.uint8) * 20).reshape(4, 3)
        img = multimodal.decode_image(multimodal.encode_png_palette(base))
        assert np.array_equal(img["pixels"], np.repeat(base[:, :, None], 3, axis=2))

    def test_too_many_colors_rejected(self):
        rng = np.random.RandomState(23)
        big = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)
        with pytest.raises(ValueError):
            multimodal.encode_png_palette(big)

    def test_index_overflow_rejected(self):
        import struct
        import zlib

        idx = np.full((2, 2, 1), 5, dtype=np.uint8)
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
        overflow = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"PLTE", bytes(9))  # 3 entries
            + multimodal._png_chunk(
                b"IDAT", zlib.compress(multimodal._png_scanline_bytes(idx, False))
            )
            + multimodal._png_chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError):
            multimodal._decode_png(overflow)

    def test_synthesize_palette_pixel_parity(self):
        text = "indexed color parity"
        pal = multimodal.decode_image(
            multimodal.synthesize_png(text, interlace=True, palette=True)
        )
        ppm = multimodal.decode_image(multimodal.synthesize_ppm(text))
        assert np.array_equal(pal["pixels"], ppm["pixels"])


class TestPngTrns:
    """tRNS transparency (PNG spec 11.3.2) — graduated from a named seam
    in r10 (VERDICT r9 Next #6): palette alpha lookup with mandatory
    pad-to-255, and transparent-color keys for greyscale/RGB."""

    def test_palette_varied_alphas_exact(self):
        """Element-exact RGBA: every palette entry gets a DISTINCT alpha,
        so a misaligned lookup (off-by-one, wrong LUT order) cannot
        pass."""
        rng = np.random.RandomState(31)
        base = rng.randint(0, 5, size=(6, 7, 3)).astype(np.uint8) * 50
        colors = np.unique(base.reshape(-1, 3), axis=0)
        alphas = (255 - np.arange(len(colors)) * 17).astype(np.uint8)
        for interlace in (False, True):
            enc = multimodal.encode_png_palette(
                base, interlace=interlace, trns=alphas
            )
            img = multimodal.decode_image(enc)
            assert img["channels"] == 4, interlace
            out = img["pixels"]
            assert np.array_equal(out[:, :, :3], base), interlace
            lut = {tuple(c): alphas[i] for i, c in enumerate(map(tuple, colors))}
            expected_a = np.array(
                [[lut[tuple(px)] for px in row] for row in base], dtype=np.uint8
            )
            assert np.array_equal(out[:, :, 3], expected_a), interlace

    def test_palette_short_chunk_pads_opaque(self):
        """A tRNS shorter than the palette leaves the tail entries fully
        opaque (the decoder must pad with 255, not 0)."""
        base = (np.arange(12, dtype=np.uint8).reshape(4, 3) % 4) * 60
        rgb = np.repeat(base[:, :, None], 3, axis=2)
        enc = multimodal.encode_png_palette(rgb, trns=np.array([7], np.uint8))
        out = multimodal.decode_image(enc)["pixels"]
        # palette is sorted distinct colors, entry 0 == color 0
        assert np.array_equal(out[:, :, 3][base == 0], np.array([7] * 3))
        assert (out[:, :, 3][base != 0] == 255).all()

    def test_grey_and_rgb_color_key(self):
        import struct
        import zlib

        # greyscale: pixels equal to the key go transparent
        grey = np.array([[10, 20], [30, 10]], dtype=np.uint8)
        lines = b"".join(b"\x00" + bytes(row) for row in grey)
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"tRNS", struct.pack(">H", 10))
            + multimodal._png_chunk(b"IDAT", zlib.compress(lines))
            + multimodal._png_chunk(b"IEND", b"")
        )
        out = multimodal._decode_png(payload)
        assert out.shape == (2, 2, 2)
        assert np.array_equal(out[:, :, 0], grey)
        assert np.array_equal(
            out[:, :, 1], np.where(grey == 10, 0, 255).astype(np.uint8)
        )
        # RGB: only the exact (r,g,b) key matches
        rgb = np.array(
            [[[1, 2, 3], [9, 9, 9]], [[1, 2, 3], [1, 2, 4]]], dtype=np.uint8
        )
        lines = b"".join(b"\x00" + bytes(row.ravel()) for row in rgb)
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"tRNS", struct.pack(">HHH", 1, 2, 3))
            + multimodal._png_chunk(b"IDAT", zlib.compress(lines))
            + multimodal._png_chunk(b"IEND", b"")
        )
        out = multimodal._decode_png(payload)
        assert out.shape == (2, 2, 4)
        assert np.array_equal(out[:, :, :3], rgb)
        assert np.array_equal(
            out[:, :, 3],
            np.array([[0, 255], [0, 255]], dtype=np.uint8),
        )

    def test_16bit_roundtrip_exact(self):
        """Depth-16 encode→decode is element-exact for grey, RGB and
        RGBA, sequential and Adam7 — big-endian byte split/recombine and
        the byte-level filter bpp (channels*2) both covered."""
        rng = np.random.RandomState(7)
        base = rng.randint(0, 65536, size=(5, 7, 3)).astype(np.uint16)
        shapes = [base[:, :, 0], base, np.dstack([base, base[:, :, :1]])]
        for arr in shapes:
            for interlace in (False, True):
                out = multimodal._decode_png(
                    multimodal.encode_png(arr, interlace=interlace)
                )
                assert out.dtype == np.uint16, (arr.shape, interlace)
                assert np.array_equal(out, arr), (arr.shape, interlace)

    def test_16bit_filters_1_to_4_decode(self):
        """Filters operate on bytes with bpp = channels*2 at depth 16
        (PNG spec 9.2).  Our encoder only emits filter 0, so forward-
        filter scanlines by hand (Sub/Up/Average/Paeth per RFC 2083 §6)
        and check the decode reconstructs the original samples."""
        import struct
        import zlib

        rng = np.random.RandomState(11)
        px = rng.randint(0, 65536, size=(4, 5, 3)).astype(np.uint16)
        h, w, ch = px.shape
        bpp = ch * 2
        plane = px.astype(">u2").view(np.uint8).reshape(h, w * bpp).astype(int)

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

        lines = b""
        for y, ftype in enumerate([1, 2, 3, 4]):
            cur, prev = plane[y], plane[y - 1] if y else np.zeros(w * bpp, int)
            filt = np.zeros(w * bpp, int)
            for x in range(w * bpp):
                left = cur[x - bpp] if x >= bpp else 0
                ul = prev[x - bpp] if x >= bpp else 0
                pred = {
                    1: left,
                    2: prev[x],
                    3: (left + prev[x]) // 2,
                    4: paeth(left, prev[x], ul),
                }[ftype]
                filt[x] = (cur[x] - pred) % 256
            lines += bytes([ftype]) + bytes(filt.tolist())
        ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"IDAT", zlib.compress(lines))
            + multimodal._png_chunk(b"IEND", b"")
        )
        assert np.array_equal(multimodal._decode_png(payload), px)

    def test_16bit_palette_rejected(self):
        import struct
        import zlib

        ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"PLTE", b"\x00" * 6)
            + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
            + multimodal._png_chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError):
            multimodal._decode_png(payload)

    def test_16bit_grey_color_key(self):
        """At depth 16 the tRNS key spans the full sample range and the
        opaque level is 65535, not 255."""
        import struct
        import zlib

        grey = np.array([[300, 70000 % 65536], [300, 12]], dtype=np.uint16)
        plane = grey.astype(">u2").view(np.uint8).reshape(2, 4)
        lines = b"".join(b"\x00" + bytes(row.tolist()) for row in plane)
        ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"tRNS", struct.pack(">H", 300))
            + multimodal._png_chunk(b"IDAT", zlib.compress(lines))
            + multimodal._png_chunk(b"IEND", b"")
        )
        out = multimodal._decode_png(payload)
        assert out.dtype == np.uint16 and out.shape == (2, 2, 2)
        assert np.array_equal(out[:, :, 0], grey)
        expected = np.where(grey == 300, 0, 65535).astype(np.uint16)
        assert np.array_equal(out[:, :, 1], expected)

    def test_16bit_synthesis_mean_identity(self):
        """synthesize_png(depth16) expands samples ×257, so the decoded
        mean is exactly 257× the PPM twin's mean — the mm_png_16bit
        driver gate's identity."""
        for text in ("alpha", "a longer document body with words"):
            f16 = multimodal.image_features(
                multimodal.synthesize_png(text, depth16=True)
            )
            f8 = multimodal.image_features(multimodal.synthesize_ppm(text))
            assert f16["channels"] == 3
            assert (f16["width"], f16["height"]) == (f8["width"], f8["height"])
            assert abs(f16["mean_value"] - 257.0 * f8["mean_value"]) < 1e-6

    def test_out_of_range_color_key_matches_nothing(self):
        """A tRNS key component > 255 at bit depth 8 is out of the sample
        range: it must match NO pixel (all-opaque decode), not alias onto
        (key & 0xFF) — key 0x0141 used to spuriously match grey 0x41
        (r10 ADVICE)."""
        import struct
        import zlib

        grey = np.array([[0x41, 0x20], [0x30, 0x41]], dtype=np.uint8)
        lines = b"".join(b"\x00" + bytes(row) for row in grey)
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"tRNS", struct.pack(">H", 0x0141))
            + multimodal._png_chunk(b"IDAT", zlib.compress(lines))
            + multimodal._png_chunk(b"IEND", b"")
        )
        out = multimodal._decode_png(payload)
        assert out.shape == (2, 2, 2)
        assert (out[:, :, 1] == 255).all()
        # RGB: one component out of range poisons the whole key
        rgb = np.array([[[0x41, 2, 3], [9, 9, 9]]], dtype=np.uint8)
        lines = b"".join(b"\x00" + bytes(row.ravel()) for row in rgb)
        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"tRNS", struct.pack(">HHH", 0x0141, 2, 3))
            + multimodal._png_chunk(b"IDAT", zlib.compress(lines))
            + multimodal._png_chunk(b"IEND", b"")
        )
        out = multimodal._decode_png(payload)
        assert out.shape == (1, 2, 4)
        assert (out[:, :, 3] == 255).all()

    def test_trns_rejected_on_alpha_color_types(self):
        """Color types 4/6 already carry alpha — tRNS there is malformed
        per spec, not a seam."""
        import struct
        import zlib

        arr = np.zeros((2, 2, 4), dtype=np.uint8)
        lines = b"".join(b"\x00" + bytes(row.ravel()) for row in arr)
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0)
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"tRNS", b"\x00")
            + multimodal._png_chunk(b"IDAT", zlib.compress(lines))
            + multimodal._png_chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError):
            multimodal._decode_png(payload)

    def test_encoder_rejects_oversized_trns(self):
        base = np.zeros((2, 2, 3), dtype=np.uint8)  # 1 distinct color
        with pytest.raises(ValueError):
            multimodal.encode_png_palette(
                base, trns=np.array([1, 2], np.uint8)
            )

    def test_synthesize_trns_mean_identity(self):
        """The mm_png_trns gate identity: half-length all-opaque tRNS ⇒
        mean(RGBA) == (3·mean(RGB) + 255) / 4 exactly."""
        text = "transparency gate identity"
        img = multimodal.decode_image(
            multimodal.synthesize_png(text, palette=True, trns=True)
        )
        ppm = multimodal.decode_image(multimodal.synthesize_ppm(text))
        assert img["channels"] == 4
        got = float(img["pixels"].mean())
        want = (3.0 * float(ppm["pixels"].mean()) + 255.0) / 4.0
        assert abs(got - want) < 1e-9


class TestPngSubByte:
    """1/2/4-bit PNG (the seam graduated in r11): MSB-first bit packing,
    bpp=1 filtering, exact 255//(2**d-1) presentation scaling, and
    color-key transparency compared at the IMAGE depth."""

    def test_grey_roundtrip_all_depths_and_shapes(self):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _decode_png,
            encode_png,
        )

        rng = np.random.default_rng(23)
        for d in (1, 2, 4):
            scale = 255 // ((1 << d) - 1)
            for h, w in ((1, 1), (3, 5), (7, 8), (8, 9), (16, 3)):
                raw = rng.integers(0, 1 << d, size=(h, w)).astype(np.uint8)
                back = _decode_png(encode_png(raw, depth=d))
                assert back.shape == (h, w)
                assert np.array_equal(back, raw * scale), (d, h, w)

    def test_palette_roundtrip_all_depths(self):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _decode_png,
            encode_png_palette,
        )

        rng = np.random.default_rng(29)
        for d in (1, 2, 4):
            pal = np.unique(
                rng.integers(0, 256, size=(1 << d, 3), dtype=np.uint8), axis=0
            )
            for h, w in ((2, 2), (5, 7), (9, 4)):
                px = pal[rng.integers(0, len(pal), size=(h, w))]
                back = _decode_png(encode_png_palette(px, depth=d))
                assert np.array_equal(back, px), (d, h, w)

    def test_palette_overflow_and_bad_depth_raise(self):
        import numpy as np
        import pytest

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            encode_png,
            encode_png_palette,
        )

        pal5 = np.array([[i, 0, 0] for i in range(5)], dtype=np.uint8)
        px = pal5[np.arange(9).reshape(3, 3) % 5]
        with pytest.raises(ValueError, match="does not fit"):
            encode_png_palette(px, depth=2)
        with pytest.raises(ValueError, match="range"):
            encode_png(np.full((2, 2), 4, dtype=np.uint8), depth=2)
        with pytest.raises(ValueError, match="depth"):
            encode_png(np.zeros((2, 2), dtype=np.uint8), depth=3)

    def test_grey_color_key_at_image_depth(self):
        """The tRNS grey key compares against the RAW sub-byte sample
        (spec 11.3.2.2), not the scaled presentation value; an
        out-of-range key matches nothing."""
        import struct
        import zlib

        import numpy as np

        from kusuma_metamorph_etl_spark.operators import multimodal as mm

        raw = np.array([[0, 1, 2, 3]], dtype=np.uint8)
        payload = mm.encode_png(raw, depth=2)
        i = payload.find(b"IDAT") - 4

        def with_key(key: int) -> bytes:
            body = struct.pack(">H", key)
            crc = struct.pack(">I", zlib.crc32(b"tRNS" + body) & 0xFFFFFFFF)
            chunk = struct.pack(">I", 2) + b"tRNS" + body + crc
            return payload[:i] + chunk + payload[i:]

        out = mm._decode_png(with_key(2))
        assert out.shape == (1, 4, 2)
        assert list(out[0, :, 0]) == [0, 85, 170, 255]  # scaled grey
        assert list(out[0, :, 1]) == [255, 255, 0, 255]  # raw 2 keyed
        assert (mm._decode_png(with_key(9))[:, :, 1] == 255).all()

    def test_subbyte_twin_matches_quantized_pgm(self):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators import multimodal as mm

        for text in ("a", "ab", "abc", "hello world", "x" * 37):
            a = mm.pixel_md5_features(mm.synthesize_png_subbyte(text))
            b = mm.pixel_md5_features(mm.synthesize_pgm_quantized(text))
            assert a["pixel_md5"] == b["pixel_md5"], text

    def test_interlaced_subbyte_roundtrip(self):
        """The last named PNG seam, graduated in r12: Adam7 passes over
        a sub-byte plane pack independently at the REDUCED width — odd
        image widths make pass-row byte padding differ from the
        sequential layout, which is exactly what a shared-packing bug
        corrupts."""
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _decode_png,
            encode_png,
        )

        rng = np.random.RandomState(41)
        for depth in (1, 2, 4):
            for shape in [(1, 1), (2, 3), (7, 13), (8, 8), (9, 2)]:
                arr = rng.randint(0, 1 << depth, size=shape).astype(np.uint8)
                scale = 255 // ((1 << depth) - 1)
                seq = _decode_png(encode_png(arr, depth=depth))
                inter = _decode_png(
                    encode_png(arr, depth=depth, interlace=True)
                )
                assert np.array_equal(seq, arr * scale), (depth, shape)
                assert np.array_equal(inter, seq), (depth, shape)


class TestPhash:
    """DCT perceptual hash: format-invariant, robust to mild transforms,
    far from unrelated images — the visual near-dup signature."""

    @staticmethod
    def _structured(freq_x=9.0, freq_y=7.0, seed=None, noise=0):
        y, x = np.mgrid[0:64, 0:80]
        base = (128 + 60 * np.sin(x / freq_x) + 50 * np.cos(y / freq_y))
        if seed is not None:
            base = base + np.random.RandomState(seed).randint(
                -noise, noise + 1, base.shape
            )
        g = base.clip(0, 255).astype(np.uint8)
        return np.stack([g, (g * 0.8).astype(np.uint8), (g * 0.5).astype(np.uint8)], 2)

    def test_identical_pixels_cross_format(self):
        arr = self._structured()
        h_png = multimodal.phash(multimodal.encode_png(arr))
        h_ppm = multimodal.phash(multimodal.encode_ppm(arr))
        h_bmp = multimodal.phash(multimodal.encode_bmp(arr))
        assert h_png == h_ppm == h_bmp
        assert 0 < h_png < 2**63

    def test_resize_variant_is_near(self):
        p = multimodal.encode_png(self._structured())
        h0 = multimodal.phash(p)
        h1 = multimodal.phash(multimodal.resize_image(p, 40, 32))
        # measured 10 on this image; pHash's downsample absorbs most of it
        assert bin(h0 ^ h1).count("1") <= 16

    def test_unrelated_images_are_far(self):
        h0 = multimodal.phash(multimodal.encode_png(self._structured()))
        for s in range(6):
            other = self._structured(3.0 + s, 11.0 - s, seed=100 + s, noise=20)
            h = multimodal.phash(multimodal.encode_png(other))
            # measured 24-38 across these seeds; 18 is the regression floor
            assert bin(h0 ^ h).count("1") >= 18

    def test_near_dups_finds_planted_copies(self, spark, sf_small):
        # copies are picked by VALUE (doc_id < 5), not by limit():
        # attach_image_payload fans out through a repartition (r13), so
        # an unordered limit() would pick different rows per evaluation
        docs = spark.read.parquet(f"{sf_small}/documents.parquet").filter(
            F.col("doc_id") < 40
        )
        imgs = multimodal.attach_payload(
            docs, multimodal.synthesize_ppm, "image/ppm"
        ).select("doc_id", "payload")
        copies = (
            imgs.filter(F.col("doc_id") < 5)
            .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        )
        pairs = multimodal.phash_near_dups(
            imgs.unionByName(copies), max_hamming=2
        )
        found = {
            (r["a"], r["b"])
            for r in pairs.filter(F.col("b") >= 1_000_000).collect()
        }
        expected = {(i, i + 1_000_000) for i in range(5)}
        assert expected <= found


class TestY4m:
    """Real YUV4MPEG2 container walk: header, FRAME markers, plane reads."""

    def test_mono_roundtrip(self):
        rng = np.random.RandomState(5)
        frames = rng.randint(0, 256, size=(3, 4, 6), dtype=np.uint8)
        video = multimodal.decode_video(multimodal.encode_y4m(frames))
        assert (video["width"], video["height"], video["n_frames"]) == (6, 4, 3)
        assert video["colorspace"].startswith("mono")
        for k in range(3):
            assert np.array_equal(video["frames"][k]["y"], frames[k])

    def test_yuv444_roundtrip(self):
        rng = np.random.RandomState(6)
        frames = rng.randint(0, 256, size=(2, 3, 4, 6), dtype=np.uint8)
        video = multimodal.decode_video(
            multimodal.encode_y4m(frames, colorspace="444")
        )
        assert video["n_frames"] == 2
        for k in range(2):
            for i, plane in enumerate(("y", "u", "v")):
                assert np.array_equal(video["frames"][k][plane], frames[k, i])

    def test_c420_plane_sizes(self):
        # hand-built C420 stream: 4x4 luma + 2x2 chroma per frame
        y = np.arange(16, dtype=np.uint8).reshape(4, 4)
        u = np.full((2, 2), 100, dtype=np.uint8)
        v = np.full((2, 2), 200, dtype=np.uint8)
        payload = (
            b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420jpeg\n"
            + b"FRAME\n" + y.tobytes() + u.tobytes() + v.tobytes()
        )
        video = multimodal.decode_video(payload)
        assert np.array_equal(video["frames"][0]["y"], y)
        assert np.array_equal(video["frames"][0]["u"], u)
        assert np.array_equal(video["frames"][0]["v"], v)

    def test_malformed_streams_raise(self):
        frames = np.zeros((1, 2, 2), dtype=np.uint8)
        good = multimodal.encode_y4m(frames)
        with pytest.raises(ValueError):
            multimodal.decode_video(b"not a video")
        with pytest.raises(ValueError):
            multimodal.decode_video(good[:-2])  # truncated plane
        with pytest.raises(NotImplementedError):
            multimodal.decode_video(  # >16-bit depth stays gated
                b"YUV4MPEG2 W4 H1 F25:1 C420p18\nFRAME\n" + b"\x00" * 18
            )
        with pytest.raises(NotImplementedError):
            multimodal.decode_video(  # deep mono past 16 gates too
                b"YUV4MPEG2 W4 H1 F25:1 Cmono20\nFRAME\n" + b"\x00" * 8
            )
        with pytest.raises(ValueError):
            multimodal.decode_video(  # malformed sub-8 depth tag (r13
                # ADVICE): must raise, not decode as 2-byte LE samples
                b"YUV4MPEG2 W4 H1 F25:1 C420p7\nFRAME\n" + b"\x00" * 6
            )
        with pytest.raises(ValueError):
            multimodal.decode_video(
                b"YUV4MPEG2 W4 H1 F25:1 Cmono4\nFRAME\n" + b"\x00" * 4
            )

    def test_depth_extended_mono_roundtrip(self):
        """Cmono10/Cmono16 (no 'p' — the r12 ADVICE gap: deep mono used
        to fall into the 8-bit path and die on a misleading FRAME-marker
        error): two-byte little-endian samples, raw at file depth."""
        rng = np.random.RandomState(7)
        for depth in (10, 16):
            frames = rng.randint(
                0, 1 << depth, size=(2, 3, 4), dtype=np.uint16
            )
            payload = multimodal.encode_y4m(frames, depth=depth)
            assert b"Cmono%d " % depth in payload.replace(b"\n", b" ")
            video = multimodal.decode_video(payload)
            assert video["depth"] == depth
            assert video["frames"][0]["y"].dtype == np.uint16
            for k in range(2):
                assert np.array_equal(video["frames"][k]["y"], frames[k])

    def test_depth_extended_444p12_roundtrip(self):
        rng = np.random.RandomState(8)
        frames = rng.randint(0, 1 << 12, size=(2, 3, 2, 3), dtype=np.uint16)
        video = multimodal.decode_video(
            multimodal.encode_y4m(frames, colorspace="444", depth=12)
        )
        assert video["colorspace"] == "444p12"
        assert video["depth"] == 12
        for k in range(2):
            for i, plane in enumerate(("y", "u", "v")):
                assert np.array_equal(video["frames"][k][plane], frames[k, i])

    def test_c420p10_hand_built_le_vector(self):
        """Depth-extended C420 grounded by a HAND-ASSEMBLED stream (not
        encoder self-consistency): 2x2 luma + 1x1 chroma, each sample two
        bytes little-endian at 10-bit range."""
        y = np.array([[1023, 0], [512, 7]], dtype=np.uint16)
        u = np.array([[300]], dtype=np.uint16)
        v = np.array([[700]], dtype=np.uint16)
        payload = (
            b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420p10\nFRAME\n"
            + y.astype("<u2").tobytes()
            + u.astype("<u2").tobytes()
            + v.astype("<u2").tobytes()
        )
        video = multimodal.decode_video(payload)
        assert video["depth"] == 10
        assert np.array_equal(video["frames"][0]["y"], y)
        assert np.array_equal(video["frames"][0]["u"], u)
        assert np.array_equal(video["frames"][0]["v"], v)

    def test_depth_tag_parsing_and_encode_guards(self):
        """'paldv' is chroma siting, not depth; deep encode validates
        range and depth bounds."""
        assert multimodal._y4m_depth("420paldv") == 8
        assert multimodal._y4m_depth("420jpeg") == 8
        assert multimodal._y4m_depth("420p10") == 10
        assert multimodal._y4m_depth("mono12") == 12
        with pytest.raises(ValueError, match="range"):
            multimodal.encode_y4m(
                np.full((1, 2, 2), 1 << 10, dtype=np.uint16), depth=10
            )
        with pytest.raises(ValueError, match="depth"):
            multimodal.encode_y4m(
                np.zeros((1, 2, 2), dtype=np.uint16), depth=17
            )

    def test_411_decode(self):
        # 4:1:1 (DV lineage) — chroma quartered horizontally, full height
        y = np.arange(16, dtype=np.uint8).reshape(2, 8)
        u = np.array([[50, 51], [52, 53]], dtype=np.uint8)
        v = np.array([[60, 61], [62, 63]], dtype=np.uint8)
        payload = (
            b"YUV4MPEG2 W8 H2 F25:1 C411\nFRAME\n"
            + y.tobytes() + u.tobytes() + v.tobytes()
        )
        video = multimodal.decode_video(payload)
        assert video["frames"][0]["u"].shape == (2, 2)
        assert np.array_equal(video["frames"][0]["y"], y)
        assert np.array_equal(video["frames"][0]["u"], u)
        assert np.array_equal(video["frames"][0]["v"], v)

    def test_422_decode(self):
        # 4:2:2 — chroma halved horizontally ONLY (full-height planes).
        # Hand-built payload: encoder support is deliberately mono/444.
        y = np.arange(8, dtype=np.uint8).reshape(2, 4)
        u = np.array([[10, 11], [12, 13]], dtype=np.uint8)
        v = np.array([[20, 21], [22, 23]], dtype=np.uint8)
        payload = (
            b"YUV4MPEG2 W4 H2 F30:1 Ip A1:1 C422\nFRAME\n"
            + y.tobytes() + u.tobytes() + v.tobytes()
        )
        video = multimodal.decode_video(payload)
        assert video["colorspace"] == "422"
        assert video["frames"][0]["u"].shape == (2, 2)
        assert np.array_equal(video["frames"][0]["y"], y)
        assert np.array_equal(video["frames"][0]["u"], u)
        assert np.array_equal(video["frames"][0]["v"], v)

    def test_synthesis_contract_and_distinct_frames(self):
        text = "hello video world"
        raw = text.encode()
        video = multimodal.decode_video(multimodal.synthesize_y4m(text))
        assert video["width"] == 8 + len(raw) % 5
        assert video["height"] == 4 + len(raw) % 3
        assert video["n_frames"] == 2 + len(raw) % 4
        # rotated-digest frames must differ (frame-boundary bugs can't hide)
        assert not np.array_equal(
            video["frames"][0]["y"], video["frames"][1]["y"]
        )


class TestSpectral:
    """FFT pitch detection over real WAV decode: known-answer sine tones."""

    def test_pure_tone_peak_is_exact(self):
        for length in (0, 7, 39, 40, 123):
            payload = multimodal.synthesize_tone("x" * length)
            feats = multimodal.spectral_features(payload)
            assert feats["peak_hz"] == multimodal.tone_hz(length)
            # a pure sine crosses zero twice per period
            expect_zcr = 2 * multimodal.tone_hz(length) / 16000
            assert abs(feats["zcr"] - expect_zcr) < 0.01

    def test_centroid_tracks_pitch(self):
        low = multimodal.spectral_features(multimodal.synthesize_tone("x" * 0))
        high = multimodal.spectral_features(multimodal.synthesize_tone("x" * 39))
        assert low["spectral_centroid"] < high["spectral_centroid"]
        # exact-bin sines leak almost nothing: centroid ~= peak
        assert abs(low["spectral_centroid"] - low["peak_hz"]) < 20.0

    def test_stereo_payload_averages_to_mono(self):
        import numpy as np

        n = np.arange(1024)
        pcm = (8000 * np.sin(2 * np.pi * 2000 * n / 16000)).astype(np.int16)
        stereo = np.stack([pcm, pcm], axis=1)
        feats = multimodal.spectral_features(multimodal.encode_wav(stereo))
        assert feats["peak_hz"] == 2000.0


def test_real_decode_features(image_payloads):
    out = multimodal.extract_binary_features(image_payloads)
    assert "payload" not in out.columns  # blobs never reach a shuffle
    rows = out.collect()
    assert all(r["format"] == "ppm" for r in rows)
    assert all(4 <= r["width"] <= 8 and 4 <= r["height"] <= 8 for r in rows)
    assert all(0.0 <= r["mean_value"] <= 255.0 for r in rows)
    assert all(len(r["content_md5"]) == 32 for r in rows)


def test_features_md5_matches_payload(image_payloads):
    got = {
        r["doc_id"]: r["content_md5"]
        for r in multimodal.extract_binary_features(image_payloads).collect()
    }
    for r in image_payloads.select("doc_id", "payload").collect():
        assert got[r["doc_id"]] == hashlib.md5(bytes(r["payload"])).hexdigest()


def test_fake_decoder_contract(payloads):
    # Arbitrary (non-image) payloads still flow through the same seam with
    # an injected decoder + schema.
    out = multimodal.extract_binary_features(
        payloads,
        decoder=multimodal.fake_decode,
        schema=multimodal.FAKE_FEATURE_SCHEMA,
    )
    row = out.limit(1).collect()[0]
    assert row["n_bytes"] > 0 and len(row["content_md5"]) == 32


def test_resize_contract(image_payloads):
    out = multimodal.resize(image_payloads, 8, 8)
    rows = out.collect()
    assert all(len(r["payload"]) == 11 + 192 for r in rows)  # header + 8*8*3
    assert all((r["width"], r["height"]) == (8, 8) for r in rows)
    assert all(r["payload_kind"] == "image/resized" for r in rows)


def test_frame_sample_counts(payloads):
    frames = multimodal.sample_frames(payloads, every_n_bytes=64, max_frames=8)
    counts = frames.groupBy("doc_id").count().collect()
    assert all(1 <= r["count"] <= 8 for r in counts)
    assert frames.filter(F.octet_length("frame_bytes") > 8).count() == 0


class TestAudioCodec:
    def test_wav_roundtrip_mono(self):
        pcm = (np.arange(300, dtype=np.int64) * 211 % 65536 - 32768).astype(np.int16)
        audio = multimodal.decode_audio(multimodal.encode_wav(pcm, 8000))
        assert (audio["format"], audio["sample_rate"], audio["channels"]) == (
            "wav", 8000, 1,
        )
        assert audio["n_samples"] == 300
        assert np.array_equal(audio["samples"][:, 0], pcm)

    def test_wav_roundtrip_stereo(self):
        pcm = np.stack(
            [np.arange(100, dtype=np.int16), np.arange(100, dtype=np.int16) * -1],
            axis=1,
        )
        audio = multimodal.decode_audio(multimodal.encode_wav(pcm, 44100))
        assert audio["channels"] == 2 and audio["n_samples"] == 100
        assert np.array_equal(audio["samples"], pcm)

    def test_extra_riff_chunks_skipped(self):
        payload = multimodal.encode_wav(np.ones(10, dtype=np.int16), 16000)
        # Splice a LIST chunk between 'WAVE' and 'fmt ' — parsers must walk.
        extra = b"LIST" + (7).to_bytes(4, "little") + b"INFOxyz" + b"\x00"
        spliced = payload[:12] + extra + payload[12:]
        assert multimodal.decode_audio(spliced)["n_samples"] == 10

    def test_non_pcm_gated_and_unknown_rejected(self):
        import struct as st

        payload = bytearray(multimodal.encode_wav(np.ones(4, dtype=np.int16)))
        st.pack_into("<H", payload, 20, 2)  # audio_format=2 (ADPCM)
        with pytest.raises(NotImplementedError):
            multimodal.decode_audio(bytes(payload))
        # IEEE float is only real at 32-bit; a float tag on 16-bit data
        # is still behind the seam.
        st.pack_into("<H", payload, 20, 3)
        with pytest.raises(NotImplementedError):
            multimodal.decode_audio(bytes(payload))
        with pytest.raises(ValueError):
            multimodal.decode_audio(b"not audio at all")

    def test_wav_pcm8_roundtrip(self):
        # 8-bit PCM is unsigned offset-binary; presented raw at file depth.
        pcm = (np.arange(50, dtype=np.int64) * 37 % 256).astype(np.uint8)
        payload = multimodal.encode_wav(pcm, 8000)
        assert struct.unpack_from("<HHIIHH", payload, 20) == (
            1, 1, 8000, 8000, 1, 8,
        )
        audio = multimodal.decode_audio(payload)
        assert audio["samples"].dtype == np.uint8
        assert np.array_equal(audio["samples"][:, 0], pcm)

    def test_wav_float32_roundtrip_with_fact_chunk(self):
        x = np.linspace(-1, 1, 64, dtype=np.float32).reshape(-1, 2)
        payload = multimodal.encode_wav(x, 48000)
        assert struct.unpack_from("<H", payload, 20)[0] == 3  # IEEE float
        # RIFF spec: non-PCM formats must carry a fact chunk.
        assert b"fact" in payload
        audio = multimodal.decode_audio(payload)
        assert audio["samples"].dtype == np.float32
        assert audio["channels"] == 2 and audio["n_samples"] == 32
        assert np.array_equal(audio["samples"], x)

    def test_wav_odd_pcm8_data_is_word_aligned(self):
        """RIFF conformance (r12 ADVICE): an odd-sized data chunk gets a
        zero pad byte excluded from the chunk size but included in the
        RIFF size, so strict external parsers can walk past it."""
        pcm = np.arange(7, dtype=np.uint8)  # 7 bytes of data — odd
        payload = multimodal.encode_wav(pcm, 8000)
        assert len(payload) % 2 == 0
        riff_size = struct.unpack_from("<I", payload, 4)[0]
        assert riff_size == len(payload) - 8  # pad counted in RIFF size
        data_at = payload.index(b"data")
        data_size = struct.unpack_from("<I", payload, data_at + 4)[0]
        assert data_size == 7  # pad NOT counted in the chunk size
        assert payload[-1:] == b"\x00"
        audio = multimodal.decode_audio(payload)
        assert np.array_equal(audio["samples"][:, 0], pcm)

    def test_wav_non_pcm_fmt_carries_cbsize(self):
        """RIFF conformance (r12 ADVICE): non-PCM formats use the
        18-byte WAVEFORMATEX fmt chunk with cbSize=0; PCM keeps the
        16-byte classic layout."""
        f32 = multimodal.encode_wav(np.zeros(4, dtype=np.float32), 8000)
        assert struct.unpack_from("<I", f32, 16)[0] == 18  # fmt size
        assert struct.unpack_from("<H", f32, 36)[0] == 0  # cbSize
        assert f32[38:42] == b"fact"
        pcm = multimodal.encode_wav(np.zeros(4, dtype=np.int16), 8000)
        assert struct.unpack_from("<I", pcm, 16)[0] == 16

    @staticmethod
    def _extensible(samples: np.ndarray, fmt_code: int, bits: int,
                    guid_tail: bytes | None = None) -> bytes:
        """Assemble a WAVE_FORMAT_EXTENSIBLE payload: 40-byte fmt chunk
        (cbSize 22: validBits + channelMask + SubFormat GUID)."""
        tail = guid_tail if guid_tail is not None else bytes.fromhex(
            "000000001000800000aa00389b71"
        )
        if samples.ndim == 1:
            samples = samples[:, None]
        n, channels = samples.shape
        data = samples.astype(samples.dtype.newbyteorder("<")).tobytes()
        block = channels * bits // 8
        fmt_body = (
            struct.pack(
                "<HHIIHH", 0xFFFE, channels, 16000, 16000 * block, block,
                bits,
            )
            + struct.pack("<HHI", 22, bits, 0)
            + struct.pack("<H", fmt_code) + tail
        )
        body = (
            b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    def test_wav_extensible_pcm_and_float(self):
        """WAVE_FORMAT_EXTENSIBLE (the standard container for >2-channel
        audio): the real format rides in the SubFormat GUID's first two
        bytes; PCM and IEEE-float GUIDs decode through the normal paths."""
        pcm = np.arange(-30, 30, dtype=np.int16).reshape(-1, 4)
        audio = multimodal.decode_audio(self._extensible(pcm, 1, 16))
        assert audio["channels"] == 4
        assert np.array_equal(audio["samples"], pcm)
        flt = np.linspace(-1, 1, 24, dtype=np.float32).reshape(-1, 2)
        audio = multimodal.decode_audio(self._extensible(flt, 3, 32))
        assert audio["samples"].dtype == np.float32
        assert np.array_equal(audio["samples"], flt)

    def test_wav_extensible_gates(self):
        pcm = np.zeros(8, dtype=np.int16)
        # non-KSDATAFORMAT GUID tail → named seam, not silent garbage
        with pytest.raises(NotImplementedError):
            multimodal.decode_audio(
                self._extensible(pcm, 1, 16, guid_tail=b"\x01" * 14)
            )
        # truncated extension (cbSize < 22) → malformed, ValueError
        fmt_body = struct.pack(
            "<HHIIHH", 0xFFFE, 1, 16000, 32000, 2, 16
        ) + struct.pack("<H", 4) + b"\x00" * 4
        body = (
            b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
            + b"data" + struct.pack("<I", 4) + b"\x00" * 4
        )
        bad = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
        with pytest.raises(ValueError):
            multimodal.decode_audio(bad)

    def test_wav_pcm24_decode_sign_extension(self):
        # Hand-built 24-bit PCM (no natural numpy dtype, decode-only):
        # little-endian 3-byte samples, sign-extended into int32.
        vals = [0, 1, -1, 8388607, -8388608, 300000, -300000]
        data = b"".join(
            (v & 0xFFFFFF).to_bytes(3, "little") for v in vals
        )
        body = (
            b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 48000, 3, 24)
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )
        payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
        audio = multimodal.decode_audio(payload)
        assert audio["samples"].dtype == np.int32
        assert audio["samples"][:, 0].tolist() == vals

    def test_synthesized_features(self, spark, sf_small):
        docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(20)
        payloads = multimodal.attach_payload(
            docs, multimodal.synthesize_wav, "audio/wav"
        )
        rows = multimodal.extract_binary_features(
            payloads,
            decoder=multimodal.audio_features,
            schema=multimodal.AUDIO_FEATURE_SCHEMA,
        ).collect()
        assert all(r["format"] == "wav" for r in rows)
        assert all(64 <= r["n_samples"] < 192 for r in rows)
        assert all(r["n_bytes"] == 44 + r["n_samples"] * 2 for r in rows)
        assert all(0.0 < r["rms"] < 32768.0 for r in rows)


# ---------------------------------------------------------------- augmentation

def test_augment_roundtrip_geometry_and_invariants():
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.multimodal import (
        augment_image,
        decode_image,
        encode_png,
    )

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    payload = encode_png(px)
    # hflip twice = identity
    twice = decode_image(
        augment_image(augment_image(payload, "hflip"), "hflip")
    )["pixels"]
    assert np.array_equal(twice, px)
    # rot90 swaps dims and rot90 x4 = identity
    r90 = decode_image(augment_image(payload, "rot90"))["pixels"]
    assert r90.shape == (7, 5, 3)
    assert np.array_equal(np.rot90(px, 1), r90)
    # mean invariant for permutation ops; crop halves dims
    for op in ("hflip", "vflip", "rot90", "rot180", "rot270"):
        out = decode_image(augment_image(payload, op))["pixels"]
        assert out.mean() == px.mean()
    crop = decode_image(augment_image(payload, "crop_c50"))["pixels"]
    assert crop.shape == (2, 3, 3)
    # crop content is the true center block
    assert np.array_equal(px[1:3, 2:5], crop)


@pytest.mark.slow
def test_augment_dataframe_fanout(spark):
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta epsilon")], ["doc_id", "text"]
    )
    png = multimodal.attach_payload(docs, multimodal.synthesize_png, "image/png")
    out = multimodal.augment(png, ops=["hflip", "rot90"])
    rows = out.collect()
    assert len(rows) == 4  # 2 docs x 2 ops
    # augmented payloads re-decode through the normal feature path
    feats = multimodal.extract_binary_features(
        out.select("doc_id", "payload")
    )
    assert feats.filter(F.col("format") == "png").count() == 4


def test_audio_augment_invariants():
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.multimodal import (
        augment_audio,
        decode_audio,
        encode_wav,
    )

    rng = np.random.default_rng(4)
    samples = rng.integers(-3000, 3000, size=300, dtype=np.int16)
    payload = encode_wav(samples)

    rev = decode_audio(augment_audio(payload, "reverse"))["samples"][:, 0]
    assert np.array_equal(rev, samples[::-1])
    # reverse twice = identity
    twice = decode_audio(
        augment_audio(augment_audio(payload, "reverse"), "reverse")
    )["samples"][:, 0]
    assert np.array_equal(twice, samples)

    half = decode_audio(augment_audio(payload, "gain_half"))["samples"][:, 0]
    assert np.array_equal(half, samples >> 1)

    dec = decode_audio(augment_audio(payload, "decimate2"))["samples"][:, 0]
    assert np.array_equal(dec, samples[::2])

    short = encode_wav(samples[:100])
    padded = decode_audio(augment_audio(short, "pad_256"))["samples"][:, 0]
    assert len(padded) == 256
    assert np.array_equal(padded[:100], samples[:100])
    assert not padded[100:].any()
    # already long enough: unchanged
    same = decode_audio(augment_audio(payload, "pad_256"))["samples"][:, 0]
    assert np.array_equal(same, samples)


def test_audio_augment_rejects_non_pcm16_samples():
    """Every audio op is defined on signed 16-bit samples.  PCM8 is
    offset-binary and float32 is not integer, so augmenting either must
    raise ValueError instead of coming back silently re-encoded (PCM8
    ``gain_half`` / ``pad_256`` used to return 16-bit PCM).  PCM16 output
    stays byte-identical (pinned digests)."""
    from kusuma_metamorph_etl_spark.operators.multimodal import (
        _AUDIO_AUG_OPS,
        augment_audio,
        synthesize_wav_format,
    )

    for kind in ("pcm8", "float32"):
        payload = synthesize_wav_format("non-pcm16 clip", kind)
        for op in _AUDIO_AUG_OPS:
            with pytest.raises(ValueError, match="PCM16"):
                augment_audio(payload, op)
    pcm16 = synthesize_wav_format("non-pcm16 clip", "pcm16")
    digests = {
        op: hashlib.md5(augment_audio(pcm16, op)).hexdigest()
        for op in _AUDIO_AUG_OPS
    }
    assert digests == {
        "reverse": "c64a7467cd6fff7455a72b4bd92a17bc",
        "gain_half": "15c1f93225b07741dd6a48ad651ccc5f",
        "decimate2": "d6a92b8401cc6573d922488877843354",
        "pad_256": "376501b5fc78cb5cd58f90558b11158d",
    }


def test_audio_augment_dataframe_fanout(spark):
    from kusuma_metamorph_etl_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    wav = multimodal.attach_payload(docs, multimodal.synthesize_wav, "audio/wav")
    out = multimodal.audio_augment(wav, ops=["reverse", "decimate2"]).collect()
    assert len(out) == 4
    by = {(r["doc_id"], r["op"]): r for r in out}
    for d in (1, 2):
        assert by[(d, "decimate2")]["n_samples"] == (
            by[(d, "reverse")]["n_samples"] + 1
        ) // 2


class TestGif:
    def test_round_trip_exact_pixels(self):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _decode_gif,
            encode_gif,
        )

        rng = np.random.default_rng(3)
        # palette-bounded image: 12 colors over a 9x7 canvas
        palette = rng.integers(0, 256, size=(12, 3), dtype=np.uint8)
        idx = rng.integers(0, 12, size=(7, 9))
        pixels = palette[idx]
        assert np.array_equal(_decode_gif(encode_gif(pixels)), pixels)

    def test_long_stream_grows_code_width(self):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _decode_gif,
            encode_gif,
        )

        rng = np.random.default_rng(11)
        palette = rng.integers(0, 256, size=(200, 3), dtype=np.uint8)
        palette = np.unique(palette, axis=0)
        idx = rng.integers(0, len(palette), size=(40, 40))
        pixels = palette[idx]  # 1600 pixels: forces several width bumps
        assert np.array_equal(_decode_gif(encode_gif(pixels)), pixels)

    def test_public_one_pixel_gif_vector(self):
        """Spec conformance against a well-known external GIF (the
        canonical 1x1 transparent-black spacer GIF, not produced by our
        encoder) — catches a self-consistent-but-wrong LZW pair."""
        import base64

        import numpy as np

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            decode_image,
        )

        spacer = base64.b64decode(
            "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
        )
        out = decode_image(spacer)
        assert (out["format"], out["width"], out["height"]) == ("gif", 1, 1)
        assert np.array_equal(out["pixels"], np.zeros((1, 1, 3), np.uint8))

    def test_gif_matches_ppm_pixels_for_synthesized_docs(self):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _synthesize_pixels,
            decode_image,
            synthesize_gif,
        )

        for text in ("hello world", "x" * 37, "the quick brown fox"):
            want = _synthesize_pixels(text)
            got = decode_image(synthesize_gif(text))
            assert np.array_equal(got["pixels"], want)

    def test_rich_image_raises_instead_of_posterizing(self):
        import numpy as np

        import pytest

        from kusuma_metamorph_etl_spark.operators.multimodal import encode_gif

        rng = np.random.default_rng(5)
        pixels = rng.integers(0, 256, size=(30, 30, 3), dtype=np.uint8)
        with pytest.raises(ValueError, match="palette"):
            encode_gif(pixels)

    def test_truncated_and_corrupt_payloads_raise(self):
        import pytest

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _decode_gif,
            encode_gif,
            _synthesize_pixels,
        )

        good = encode_gif(_synthesize_pixels("abc"))
        with pytest.raises(ValueError):
            _decode_gif(good[:20])
        with pytest.raises(ValueError):
            _decode_gif(b"NOTGIF" + good[6:])

    def test_interlace_order_matches_spec(self):
        """GIF89a appendix E, the documented 4-pass example order."""
        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _gif_interlace_order,
        )

        assert _gif_interlace_order(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
        assert _gif_interlace_order(1) == [0]
        assert _gif_interlace_order(4) == [0, 2, 1, 3]
        # every height is a permutation of range(h)
        for h in range(1, 40):
            assert sorted(_gif_interlace_order(h)) == list(range(h))

    def test_interlaced_round_trip_exact_pixels(self):
        """Interlaced frames (the seam graduated in r11) decode to the
        EXACT pixels across heights hitting every pass-boundary case —
        and the interlaced payload genuinely differs from the
        sequential one wherever the row shuffle is non-trivial."""
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _decode_gif,
            encode_gif,
        )

        rng = np.random.default_rng(17)
        for h in (1, 2, 3, 4, 5, 7, 8, 9, 16, 17, 33):
            palette = rng.integers(0, 256, size=(9, 3), dtype=np.uint8)
            pixels = palette[rng.integers(0, 9, size=(h, 6))]
            seq = encode_gif(pixels, interlace=False)
            il = encode_gif(pixels, interlace=True)
            assert np.array_equal(_decode_gif(il), pixels), h
            assert np.array_equal(_decode_gif(seq), pixels), h
            if h > 2:  # row order actually shuffles
                assert il != seq, h

    def test_interlaced_matches_ppm_pixels_for_synthesized_docs(self):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _synthesize_pixels,
            decode_image,
            synthesize_gif,
        )

        for text in ("hello world", "x" * 37, "the quick brown fox"):
            want = _synthesize_pixels(text)
            got = decode_image(synthesize_gif(text, interlace=True))
            assert np.array_equal(got["pixels"], want)


class TestJpeg:
    """Baseline JPEG codec (`operators/jpeg.py`, 4:4:4 + 4:2:0 +
    restart intervals): lossy, so the contracts are quantization-bounded
    error — never bit equality."""

    def test_constant_and_smooth_images_roundtrip_exactly(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        c = np.full((16, 24, 3), 170, dtype=np.uint8)
        assert np.array_equal(decode_jpeg(encode_jpeg(c, quality=95)), c)
        grad = np.tile(
            np.linspace(30, 220, 32).astype(np.uint8)[None, :, None],
            (24, 1, 3),
        )
        # Constant blocks round-trip bit-exactly (DC-only).  A smooth
        # gradient is *almost* exact at quality 95, but individual AC
        # coefficients can land within BLAS float noise of a rounding
        # boundary, and the matmul summation order differs across
        # OpenBLAS builds — so the contract is a 1-LSB bound, not bit
        # equality (observed: one column flipping by ±1 between hosts).
        out = decode_jpeg(encode_jpeg(grad, quality=95)).astype(np.int64)
        assert np.abs(out - grad.astype(np.int64)).max() <= 1

    def test_sos_offset_walks_the_marker_stream(self):
        """`sos_offset` must agree with a raw byte search on benign
        streams, survive a crafted COM segment whose BODY contains the
        0xFF 0xDA pair (where the raw search truncates early — the r13
        ADVICE hazard), and reject non-JPEG input."""
        import pytest
        import struct

        from kusuma_metamorph_etl_spark.operators.jpeg import (
            encode_jpeg,
            sos_offset,
        )

        payload = encode_jpeg(np.full((8, 8, 3), 99, dtype=np.uint8))
        off = sos_offset(payload)
        assert off == payload.index(b"\xff\xda")
        assert payload[off : off + 2] == b"\xff\xda"

        # splice a comment segment containing the SOS byte pair right
        # after SOI: decoders must skip it as segment body
        body = b"ab\xff\xdacd"
        com = b"\xff\xfe" + struct.pack(">H", len(body) + 2) + body
        crafted = payload[:2] + com + payload[2:]
        assert sos_offset(crafted) == off + len(com)
        assert crafted.index(b"\xff\xda") < sos_offset(crafted)

        with pytest.raises(ValueError):
            sos_offset(b"\x00\x01\x02")
        with pytest.raises(ValueError):
            sos_offset(payload[:off])  # header only, no SOS anywhere

    def test_noise_error_bounded_and_mean_preserved(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(0)
        arr = rng.integers(0, 256, size=(17, 19, 3), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(arr, quality=95))
        err = dec.astype(float) - arr.astype(float)
        assert np.sqrt((err**2).mean()) < 8.0  # quantization-bounded
        assert abs(dec.mean() - arr.mean()) < 1.0

    def test_greyscale_and_nonmultiple_of_8_dims(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(1)
        grey = rng.integers(0, 256, size=(9, 11), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(grey, quality=95))
        assert out.shape == (9, 11)  # padding cropped back off

    def test_dispatch_and_quality_knob(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import encode_jpeg

        rng = np.random.default_rng(2)
        arr = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        img = multimodal.decode_image(encode_jpeg(arr, quality=95))
        assert (img["format"], img["width"], img["height"]) == ("jpeg", 16, 16)
        # lower quality: smaller file, larger error — the knob works
        small = len(encode_jpeg(arr, quality=30))
        big = len(encode_jpeg(arr, quality=95))
        assert small < big

    def test_malformed_and_unsupported_variants(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        good = encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8))
        with pytest.raises(ValueError):
            decode_jpeg(b"\xff\xd8" + b"\x00\x00")
        with pytest.raises(ValueError):
            decode_jpeg(good[:40])
        # arithmetic-LOSSLESS (0xCB): still a named NotImplementedError
        # (sequential SOF9 and progressive SOF10 graduated in r13)
        arith = bytearray(good)
        sof = arith.find(b"\xff\xc0")
        arith[sof + 1] = 0xCB
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(arith))
        # a baseline file with its SOF flipped to SOF2 is MALFORMED
        # progressive (its baseline SOS trailer reads as a DC scan with
        # Se=63): a ValueError, not a silent misdecode.  Real SOF2
        # streams decode — TestJpegProgressive.
        prog = bytearray(good)
        prog[sof + 1] = 0xC2
        with pytest.raises(ValueError):
            decode_jpeg(bytes(prog))

    def test_420_subsampled_roundtrip(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        # smooth chroma: 4:2:0's 2x2 box-average + replication stays
        # within a few levels; dims deliberately NOT multiples of 16
        yy, xx = np.mgrid[0:37, 0:53]
        img = np.stack(
            [(xx * 3) % 200 + 20, (yy * 2) % 200 + 20, ((xx + yy)) % 200 + 20],
            axis=2,
        ).astype(np.uint8)
        enc = encode_jpeg(img, quality=95, subsampling="420")
        dec = decode_jpeg(enc)
        assert dec.shape == img.shape
        err = np.abs(dec.astype(float) - img.astype(float))
        assert np.sqrt((err**2).mean()) < 4.0
        # the subsampled file is genuinely 4:2:0 (luma factor 0x22 in SOF)
        sof = enc.find(b"\xff\xc0")
        assert enc[sof + 11] == 0x22
        # and smaller than its 4:4:4 twin on the same pixels
        assert len(enc) < len(encode_jpeg(img, quality=95, subsampling="444"))

    def test_restart_intervals_decode_and_resync(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
        for sub in ("444", "420"):
            plain = decode_jpeg(encode_jpeg(img, quality=90, subsampling=sub))
            with_rst = encode_jpeg(
                img, quality=90, subsampling=sub, restart_interval=2
            )
            assert b"\xff\xdd" in with_rst  # DRI present
            assert b"\xff\xd0" in with_rst  # at least RST0 emitted
            # restart markers are framing, not content: identical decode
            assert np.array_equal(decode_jpeg(with_rst), plain)

    def test_restart_marker_abuse_is_rejected(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        img = np.full((24, 24), 128, dtype=np.uint8)
        good = encode_jpeg(img, quality=95, restart_interval=1)
        # out-of-sequence RSTn: flip RST0 -> RST5
        tampered = bytearray(good)
        i = tampered.find(b"\xff\xd0", 2)
        tampered[i + 1] = 0xD5
        with pytest.raises(ValueError):
            decode_jpeg(bytes(tampered))
        # RSTn with the DRI segment stripped: unexpected marker mid-stream
        dri = good.find(b"\xff\xdd")
        no_dri = good[:dri] + good[dri + 6 :]
        with pytest.raises(ValueError):
            decode_jpeg(no_dri)


class TestJpegConformance:
    """Decoder pinned to a SPEC-DERIVED byte vector (VERDICT r7 Next #4):
    a baseline greyscale JPEG hand-assembled from ITU-T T.81 Annex K's
    published example tables, with the entropy stream derived by hand
    below — so decode is checked against spec-published tables and
    arithmetic, not against this repo's own encoder.

    Derivation (8×16 greyscale, two constant 8×8 blocks, values 192 and
    64; quantization table K.1 so Q[0,0]=16; orthonormal DCT so a
    constant block's only coefficient is DC = 8·(v−128)):

    * block 1 (v=192): DC = 8·64/16 = 32; diff vs predictor 0 = 32 →
      category 6, value bits ``100000``.  K.3 assigns category 6 the
      code ``1110``.  All AC zero → EOB, which K.5 assigns ``1010``.
    * block 2 (v=64): DC = −32; diff = −64 → category 7, value bits
      −64 + 2⁷ − 1 = 63 → ``0111111``; K.3 category 7 = ``11110``;
      then EOB ``1010``.
    * stream = 1110 100000 1010 11110 0111111 1010 + two 1-pad bits
      = bytes ``E8 2B CF EB``.
    * exact integer decode: 32·16/8 + 128 = 192 and −32·16/8 + 128 = 64
      (no rounding anywhere, so equality is exact, not tolerance).
    """

    # T.81 Annex K table K.1 (luminance quantization), zigzag order
    K1 = bytes([
        16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
        26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
        56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
        95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
        103, 99,
    ])
    # K.3: DC luminance Huffman spec (BITS then HUFFVAL)
    K3_BITS = bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0])
    K3_VALS = bytes(range(12))
    # K.5: AC luminance Huffman spec
    K5_BITS = bytes([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D])
    K5_VALS = bytes([
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ])

    def _vector(self) -> bytes:
        import struct

        f = bytearray(b"\xff\xd8")  # SOI
        f += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + self.K1
        f += (
            b"\xff\xc0"
            + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, 8, 16, 1)
            + bytes([1, 0x11, 0])
        )  # SOF0: 8-bit, 8 tall, 16 wide, 1 component, 1x1, qtable 0
        f += b"\xff\xc4" + struct.pack(">H", 31) + b"\x00" + self.K3_BITS + self.K3_VALS
        f += b"\xff\xc4" + struct.pack(">H", 181) + b"\x10" + self.K5_BITS + self.K5_VALS
        f += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00]) + b"\x00\x3f\x00"
        f += bytes([0xE8, 0x2B, 0xCF, 0xEB])  # hand-derived entropy stream
        f += b"\xff\xd9"  # EOI
        return bytes(f)

    def test_annex_k_tables_match_module_constants(self):
        # the module's base luminance table IS Annex K table K.1
        from kusuma_metamorph_etl_spark.operators.jpeg import _Q_LUMA, _ZIGZAG

        assert _Q_LUMA.ravel()[_ZIGZAG].astype(int).tolist() == list(self.K1)
        assert sum(self.K3_BITS) == len(self.K3_VALS) == 12
        assert sum(self.K5_BITS) == len(self.K5_VALS) == 162

    def test_spec_vector_decodes_to_exact_published_pixels(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

        img = decode_jpeg(self._vector())
        assert img.shape == (8, 16)
        assert (img[:, :8] == 192).all()  # block 1: exactly 192
        assert (img[:, 8:] == 64).all()  # block 2: exactly 64

    @pytest.mark.parametrize(
        "luma_sampling,width,height",
        [(0x21, 16, 8), (0x12, 8, 16)],  # 4:2:2 and 4:4:0
    )
    def test_422_and_440_files_decode_exactly(self, luma_sampling, width, height):
        """The MCU walk is general over sampling factors: hand-assemble a
        one-MCU color file with luma 2×1 (4:2:2) / 1×2 (4:4:0), chroma
        1×1, constant Y=192 and neutral chroma.  Exact arithmetic as in
        the Annex-K vector (DC 8·64/16 = 32 under Q[0,0]=16; chroma DC 0
        under any table), so the decode must be exactly RGB(192,192,192)."""
        import struct

        from kusuma_metamorph_etl_spark.operators.jpeg import (
            _AC_BITS,
            _AC_CODES,
            _AC_SYMBOLS,
            _BitWriter,
            _DC_BITS,
            _DC_CODES,
            _DC_SYMBOLS,
            _dht_segment,
            _Q_CHROMA,
            _Q_LUMA,
            _ZIGZAG,
            decode_jpeg,
        )

        bw = _BitWriter()

        def dc(category, bits):
            code, length = _DC_CODES[category]
            bw.write(code, length)
            if category:
                bw.write(bits, category)
            ec, el = _AC_CODES[0x00]
            bw.write(ec, el)  # EOB: constant block, all AC zero

        dc(6, 32)  # luma block 1: diff 32 (category 6)
        dc(0, 0)  # luma block 2: diff 0
        dc(0, 0)  # Cb
        dc(0, 0)  # Cr
        scan = bw.flush()

        f = bytearray(b"\xff\xd8")
        for ti, q in ((0, _Q_LUMA), (1, _Q_CHROMA)):
            zz = q.ravel()[_ZIGZAG].astype("uint8").tobytes()
            f += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti]) + zz
        sof = struct.pack(">BHHB", 8, height, width, 3)
        sof += bytes([1, luma_sampling, 0])
        sof += bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
        f += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
        f += _dht_segment(0x00, _DC_BITS, _DC_SYMBOLS)
        f += _dht_segment(0x10, _AC_BITS, _AC_SYMBOLS)
        sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00]) + b"\x00\x3f\x00"
        f += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        f += scan + b"\xff\xd9"

        img = decode_jpeg(bytes(f))
        assert img.shape == (height, width, 3)
        assert (img == 192).all()

    def test_synthesized_payload_mean_close_to_ppm(self):
        for text in ("hello jpeg", "x" * 41):
            want = multimodal._synthesize_pixels(text)
            got = multimodal.decode_image(multimodal.synthesize_jpeg(text))
            assert got["width"] == want.shape[1]
            assert got["height"] == want.shape[0]
            assert abs(float(got["pixels"].mean()) - float(want.mean())) < 2.0


class _ProgressiveWriter:
    """Test-local progressive JPEG writer (T.81 Annex G encoder side),
    used ONLY to produce fixtures for the decoder under test: given the
    per-component quantized zigzag coefficient blocks (the same forward
    math as `_encode_block`), emit an SOF2 file under an arbitrary scan
    script.  Follows the libjpeg-documented emission discipline —
    EOB-run accumulation with buffered correction bits flushed after
    the next EOBn/ZRL/(r,1) symbol — which is exactly the bit order the
    decoder's §G.1.2 logic consumes."""

    def __init__(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            _canonical_codes,
            _DC_BITS,
            _DC_SYMBOLS,
        )

        # AC table WITH the EOBn symbols baseline tables omit
        self.ac_syms = sorted((r << 4) | s for r in range(16) for s in range(11))
        self.ac_bits = [0] * 16
        self.ac_bits[7] = len(self.ac_syms)
        self.ac_codes = _canonical_codes(self.ac_bits, self.ac_syms)
        self.dc_codes = _canonical_codes(_DC_BITS, _DC_SYMBOLS)

    # --- scan encoders (single scan each; state is per-scan) ---

    def _emit_eobrun(self, bw):
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            c, l = self.ac_codes[r << 4]
            bw.write(c, l)
            if r:
                bw.write(self.eobrun - (1 << r), r)
            for b in self.pending:
                bw.write(b, 1)
            self.eobrun = 0
            self.pending = []

    def dc_first(self, bw, blocks_iter, al):
        from kusuma_metamorph_etl_spark.operators.jpeg import _magnitude

        preds = {}
        for cid, zz in blocks_iter:
            v = int(zz[0]) >> al  # arithmetic shift, two's complement
            diff = v - preds.get(cid, 0)
            preds[cid] = v
            size, bits = _magnitude(diff)
            c, l = self.dc_codes[size]
            bw.write(c, l)
            if size:
                bw.write(bits, size)

    def dc_refine(self, bw, blocks_iter, al):
        for _cid, zz in blocks_iter:
            bw.write((int(zz[0]) >> al) & 1, 1)

    def ac_first(self, bw, blocks, ss, se, al):
        from kusuma_metamorph_etl_spark.operators.jpeg import _magnitude

        self.eobrun, self.pending = 0, []
        for zz in blocks:
            band = [int(v) for v in zz[ss : se + 1]]
            scaled = [v >> al if v >= 0 else -((-v) >> al) for v in band]
            if not any(scaled):
                self.eobrun += 1
                continue
            self._emit_eobrun(bw)
            run = 0
            last_nz = max(i for i, v in enumerate(scaled) if v)
            for i, v in enumerate(scaled):
                if i > last_nz:
                    self.eobrun += 1  # trailing zeros -> EOB for this block
                    break
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, l = self.ac_codes[0xF0]
                    bw.write(c, l)
                    run -= 16
                size, bits = _magnitude(v)
                c, l = self.ac_codes[(run << 4) | size]
                bw.write(c, l)
                bw.write(bits, size)
                run = 0
            else:
                pass  # band ended exactly at a nonzero: no EOB needed
        self._emit_eobrun(bw)

    def ac_refine(self, bw, blocks, ss, se, al):
        self.eobrun, self.pending = 0, []
        for zz in blocks:
            band = [int(v) for v in zz[ss : se + 1]]
            absv = [abs(v) >> al for v in band]
            newly = [i for i, t in enumerate(absv) if t == 1]
            if not newly:
                # nothing becomes significant: whole band rides the EOB
                # run; its nonzero-history correction bits buffer
                self.eobrun += 1
                self.pending += [t & 1 for t in absv if t > 1]
                continue
            last_new = newly[-1]
            run, br_local = 0, []
            for i, t in enumerate(absv):
                if i > last_new:
                    break
                if t == 0:
                    run += 1
                    continue
                if t > 1:
                    br_local.append(t & 1)
                    continue
                while run > 15:
                    self._emit_eobrun(bw)
                    c, l = self.ac_codes[0xF0]
                    bw.write(c, l)
                    run -= 16
                    for b in br_local:
                        bw.write(b, 1)
                    br_local = []
                self._emit_eobrun(bw)
                c, l = self.ac_codes[(run << 4) | 1]
                bw.write(c, l)
                bw.write(1 if band[i] > 0 else 0, 1)
                for b in br_local:
                    bw.write(b, 1)
                br_local = []
                run = 0
            trailing = [t & 1 for t in absv[last_new + 1 :] if t > 1]
            if absv[last_new + 1 :] or trailing:
                self.eobrun += 1
                self.pending += trailing
        self._emit_eobrun(bw)

    # --- file assembly ---

    def build(self, h, w, comps, qtables, coef, scans):
        """comps: [(cid, hi, vi, tq)]; qtables: {tq: 8x8}; coef: {cid:
        (BY, BX, 64) zigzag ints on the padded MCU grid}; scans: list of
        (cids, ss, se, ah, al)."""
        import struct

        from kusuma_metamorph_etl_spark.operators.jpeg import (
            _BitWriter,
            _dht_segment,
            _DC_BITS,
            _DC_SYMBOLS,
            _ZIGZAG,
        )

        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        f = bytearray(b"\xff\xd8")
        for tq, q in sorted(qtables.items()):
            zzq = q.ravel()[_ZIGZAG].astype("uint8").tobytes()
            f += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + zzq
        sof = struct.pack(">BHHB", 8, h, w, len(comps))
        for cid, hi, vi, tq in comps:
            sof += bytes([cid, (hi << 4) | vi, tq])
        f += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof  # SOF2
        f += _dht_segment(0x00, _DC_BITS, _DC_SYMBOLS)
        f += _dht_segment(0x10, self.ac_bits, self.ac_syms)
        comp_by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
        for cids, ss, se, ah, al in scans:
            bw = _BitWriter()
            if ss == 0:  # DC scan
                if len(cids) > 1:  # interleaved: MCU order
                    def blocks_iter():
                        for my in range(mcuy):
                            for mx in range(mcux):
                                for cid in cids:
                                    hi, vi, _ = comp_by_id[cid]
                                    for v in range(vi):
                                        for hh in range(hi):
                                            yield cid, coef[cid][
                                                my * vi + v, mx * hi + hh
                                            ]
                else:
                    def blocks_iter():
                        cid = cids[0]
                        for zz in self._component_blocks(
                            coef[cid], comp_by_id[cid], h, w, hmax, vmax
                        ):
                            yield cid, zz
                if ah == 0:
                    self.dc_first(bw, blocks_iter(), al)
                else:
                    self.dc_refine(bw, blocks_iter(), al)
            else:
                cid = cids[0]
                blocks = self._component_blocks(
                    coef[cid], comp_by_id[cid], h, w, hmax, vmax
                )
                if ah == 0:
                    self.ac_first(bw, blocks, ss, se, al)
                else:
                    self.ac_refine(bw, blocks, ss, se, al)
            sos = bytes([len(cids)])
            for cid in cids:
                # DC scans select DC table 0; AC scans AC table 0
                sos += bytes([cid, 0x00])
            sos += bytes([ss, se, (ah << 4) | al])
            f += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
            f += bw.flush()
        f += b"\xff\xd9"
        return bytes(f)

    @staticmethod
    def _component_blocks(arr, comp, h, w, hmax, vmax):
        hi, vi, _tq = comp
        cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)
        bw_, bh_ = -(-cw // 8), -(-ch // 8)
        return [arr[by, bx] for by in range(bh_) for bx in range(bw_)]


def _quantized_planes(pixels, quality, subsampling):
    """The encoder's exact forward path (level shift, DCT, quantize,
    zigzag) exposed for the progressive writer — same padding and chroma
    averaging as `encode_jpeg`, so a progressive file built from these
    coefficients must decode to the SAME pixels as the baseline file."""
    import numpy as np

    from kusuma_metamorph_etl_spark.operators.jpeg import (
        _C,
        _quality_scale,
        _Q_CHROMA,
        _Q_LUMA,
        _ZIGZAG,
    )

    arr = np.asarray(pixels, dtype=np.uint8)
    grey = arr.ndim == 2
    h, w = arr.shape[:2]
    sub = subsampling == "420" and not grey
    if grey:
        planes = [arr.astype(np.float64)]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    q_luma = _quality_scale(_Q_LUMA, quality)
    q_chroma = _quality_scale(_Q_CHROMA, quality)
    mcu = 16 if sub else 8
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    planes = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes]
    if sub:
        planes[1:] = [
            p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            for p in planes[1:]
        ]
    out = {}
    qmap = {}
    for ci, plane in enumerate(planes):
        q = q_luma if ci == 0 else q_chroma
        hh, ww = plane.shape
        blocks = np.zeros((hh // 8, ww // 8, 64), dtype=np.int64)
        for by in range(hh // 8):
            for bx in range(ww // 8):
                block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                quant = np.round((_C @ (block - 128.0) @ _C.T) / q).astype(
                    np.int64
                )
                blocks[by, bx] = quant.ravel()[_ZIGZAG]
        out[ci + 1] = blocks
        qmap[ci + 1] = q
    return out, qmap


class TestJpegProgressive:
    """Progressive (SOF2) decode — VERDICT r8 #7.  Two evidence layers:
    a hand-derivable spec vector over Annex-K tables (DC successive
    approximation + refinement + AC band, exact integer pixels), and
    byte-exact equivalence against the baseline decoder on the same
    quantized coefficients (grey 4:4:4 and color 4:2:0, multi-scan
    scripts with spectral bands, successive approximation, and EOB
    runs)."""

    def test_spec_vector_dc_sa_refine_exact_pixels(self):
        """Same image as the baseline Annex-K vector (8×16 grey, blocks
        192 / 64 → DC 32 / −32 under K.1's Q[0,0]=16), re-encoded
        progressively by hand with K.3 DC codes:

        * scan 1 (DC first, Al=1): values 16 / −16; diffs 16 (cat 5,
          '110'+'10000') and −32 (cat 6, '1110'+'011111');
        * scan 2 (DC refine, Al=0): appended bits 32&1=0, −32&1=0;
        * scan 3 (AC first, 1–63, Al=0): both bands empty → EOB0 twice
          (K.5 '1010' '1010').

        Reconstruction: 32·16/8+128 = 192 and −32·16/8+128 = 64, exact.
        """
        import struct

        from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

        K = TestJpegConformance
        f = bytearray(b"\xff\xd8")
        f += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + K.K1
        f += (
            b"\xff\xc2"
            + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, 8, 16, 1)
            + bytes([1, 0x11, 0])
        )
        f += b"\xff\xc4" + struct.pack(">H", 31) + b"\x00" + K.K3_BITS + K.K3_VALS
        f += b"\xff\xc4" + struct.pack(">H", 181) + b"\x10" + K.K5_BITS + K.K5_VALS
        # scan 1: DC first Al=1 — 110 10000 1110 011111 + 6 pad 1s
        f += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 0, 0x01])
        f += bytes([0b11010000, 0b11100111, 0b11111111]) + b"\x00"  # FF stuffed
        # scan 2: DC refine Ah=1 Al=0 — bits 0,0 + 6 pad 1s
        f += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 0, 0x10])
        f += bytes([0b00111111])
        # scan 3: AC first 1..63 Al=0 — EOB0 EOB0 = 1010 1010
        f += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 1, 63, 0x00])
        f += bytes([0b10101010])
        f += b"\xff\xd9"

        img = decode_jpeg(bytes(f))
        assert img.shape == (8, 16)
        assert (img[:, :8] == 192).all()
        assert (img[:, 8:] == 64).all()

    def test_progressive_equals_baseline_grey(self):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(11)
        img = (
            rng.integers(0, 256, size=(24, 40)).astype(np.uint8)
        )
        base = decode_jpeg(encode_jpeg(img, quality=85))
        coef, qmap = _quantized_planes(img, 85, "444")
        wtr = _ProgressiveWriter()
        scans = [
            ([1], 0, 0, 0, 1),   # DC first, Al=1
            ([1], 0, 0, 1, 0),   # DC refine
            ([1], 1, 5, 0, 1),   # AC low band, Al=1
            ([1], 6, 63, 0, 1),  # AC high band, Al=1 (EOB runs exercised)
            ([1], 1, 5, 1, 0),   # AC low refine
            ([1], 6, 63, 1, 0),  # AC high refine
        ]
        prog = wtr.build(
            img.shape[0], img.shape[1],
            [(1, 1, 1, 0)], {0: qmap[1]}, {1: coef[1]}, scans,
        )
        got = decode_jpeg(prog)
        assert got.shape == base.shape
        assert (got == base).all()

    def test_progressive_equals_baseline_color_420(self):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(13)
        # smooth gradient + noise: realistic AC content incl. EOB runs
        yy, xx = np.mgrid[0:24, 0:36]
        img = np.stack(
            [
                (yy * 5 + xx * 3) % 256,
                (255 - xx * 6) % 256,
                rng.integers(0, 256, size=(24, 36)),
            ],
            axis=2,
        ).astype(np.uint8)
        base = decode_jpeg(encode_jpeg(img, quality=80, subsampling="420"))
        coef, qmap = _quantized_planes(img, 80, "420")
        wtr = _ProgressiveWriter()
        comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        scans = [
            ([1, 2, 3], 0, 0, 0, 1),  # interleaved DC first
            ([1], 1, 63, 0, 0),       # luma AC full band
            ([2], 1, 63, 0, 0),       # Cb
            ([3], 1, 63, 0, 0),       # Cr
            ([1, 2, 3], 0, 0, 1, 0),  # DC refine
        ]
        prog = wtr.build(
            24, 36, comps,
            {0: qmap[1], 1: qmap[2]},
            {1: coef[1], 2: coef[2], 3: coef[3]},
            scans,
        )
        got = decode_jpeg(prog)
        assert got.shape == base.shape
        assert (got == base).all()

    def test_progressive_sa_ac_refinement_with_new_significants(self):
        """AC successive approximation where refinement CREATES
        coefficients (|v|=1 at full precision is invisible at Al=1 and
        must appear in the Al=0 refinement scan)."""
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.jpeg import (
            _C,
            _ZIGZAG,
            decode_jpeg,
        )

        # hand-set zigzag coefficients: mix of large (refined) and ±1
        # (newly significant at Al=0) values across two blocks
        blocks = np.zeros((1, 2, 64), dtype=np.int64)
        blocks[0, 0, 0] = 12
        blocks[0, 0, 1] = 5
        blocks[0, 0, 2] = -3
        blocks[0, 0, 7] = 1    # created in the refinement scan
        blocks[0, 1, 0] = -7
        blocks[0, 1, 3] = -1   # created in the refinement scan
        q = np.ones((8, 8), dtype=np.float64)  # identity quantization
        wtr = _ProgressiveWriter()
        scans = [
            ([1], 0, 0, 0, 1),
            ([1], 0, 0, 1, 0),
            ([1], 1, 63, 0, 1),
            ([1], 1, 63, 1, 0),
        ]
        prog = wtr.build(8, 16, [(1, 1, 1, 0)], {0: q}, {1: blocks}, scans)
        got = decode_jpeg(prog)

        # reference: direct IDCT of the intended coefficients
        ref = np.zeros((8, 16))
        for bx in range(2):
            nat = np.zeros(64)
            nat[_ZIGZAG] = blocks[0, bx]
            ref[:, bx * 8 : bx * 8 + 8] = (
                _C.T @ (nat.reshape(8, 8) * q) @ _C + 128.0
            )
        ref = np.clip(np.round(ref), 0, 255).astype(np.uint8)
        assert (got == ref).all()


class TestTranscode:
    def test_mixed_formats_normalize_to_png_losslessly(self, spark, sf_small):
        docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(12)
        fmt = F.col("doc_id") % 3
        synths = (
            multimodal.synthesize_ppm,
            multimodal.synthesize_png,
            multimodal.synthesize_gif,
        )
        parts = [
            multimodal.attach_payload(docs.filter(fmt == i), synth, "image")
            .select("doc_id", "payload")
            for i, synth in enumerate(synths)
        ]
        mixed = parts[0].unionByName(parts[1]).unionByName(parts[2])
        out = multimodal.transcode_images(mixed, to="png").collect()
        assert len(out) == docs.count()
        assert {r["src_format"] for r in out} == {"ppm", "png", "gif"}
        for r in out:
            img = multimodal.decode_image(bytes(r["payload"]))
            assert img["format"] == "png"
            assert (img["width"], img["height"]) == (r["width"], r["height"])

    def test_unknown_target_raises(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
        with _pytest.raises(ValueError):
            multimodal.transcode_images(df, to="webp")

    @pytest.mark.parametrize(
        "synth, run",
        [
            pytest.param(
                multimodal.synthesize_ppm,
                lambda df: multimodal.extract_binary_features(df, id_col="rid"),
                id="extract_binary_features",
            ),
            pytest.param(
                multimodal.synthesize_ppm,
                lambda df: multimodal.resize(df, 8, 8, id_col="rid"),
                id="resize",
            ),
            pytest.param(
                multimodal.synthesize_y4m,
                lambda df: multimodal.extract_video_frames(df, id_col="rid"),
                id="extract_video_frames",
            ),
            pytest.param(
                multimodal.synthesize_png,
                lambda df: multimodal.augment(df, ops=["hflip"], id_col="rid"),
                id="augment",
            ),
            pytest.param(
                multimodal.synthesize_wav,
                lambda df: multimodal.audio_augment(df, ops=["reverse"], id_col="rid"),
                id="audio_augment",
            ),
            pytest.param(
                multimodal.synthesize_ppm,
                lambda df: multimodal.transcode_images(df, to="png", id_col="rid"),
                id="transcode_images",
            ),
        ],
    )
    def test_string_record_ids_survive(self, spark, synth, run):
        # WARC-style string record ids keep their name and type through
        # every payload map — none may assume a `long` named doc_id
        docs = spark.createDataFrame(
            [("urn:uuid:rec-a",), ("urn:uuid:rec-b",)], ["rid"]
        )
        payloads = multimodal.attach_payload(
            docs, synth, "payload", text_col="rid"
        ).select("rid", "payload")
        out = run(payloads)
        assert out.dtypes[0] == ("rid", "string")
        assert sorted({r["rid"] for r in out.collect()}) == [
            "urn:uuid:rec-a",
            "urn:uuid:rec-b",
        ]


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """Regression (r8 review): T.81 B.1.1.2 allows any number of 0xFF
    fill bytes before a marker; the parser used to consume the real
    marker byte as a segment-length high byte and skip ~56KB of file."""
    from kusuma_metamorph_etl_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    img = np.full((16, 16, 3), 170, dtype=np.uint8)
    payload = encode_jpeg(img, quality=95)
    # pad with legal fill bytes after SOI (before the next marker's 0xFF)
    padded = payload[:2] + b"\xff\xff" + payload[2:]
    assert np.array_equal(decode_jpeg(padded), img)


def _rewrite_jpeg_segments(payload: bytes, rewrite) -> bytes:
    """Walk the pre-SOS marker segments of an encoder-produced JPEG and
    map each (marker, body) through ``rewrite`` → (marker, body)."""
    out = bytearray(payload[:2])  # SOI
    pos = 2
    while pos < len(payload):
        assert payload[pos] == 0xFF
        marker = payload[pos + 1]
        seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + seg_len]
        marker, body = rewrite(marker, body)
        out += bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body
        pos += 2 + seg_len
        if marker == 0xDA:  # entropy stream + EOI follow verbatim
            out += payload[pos:]
            break
    return bytes(out)


def test_jpeg_16bit_dqt_tables_decode():
    """DQT with Pq=1 (16-bit big-endian entries, T.81 B.2.4.1) decodes;
    with the same table VALUES the pixels must match the 8-bit file."""
    from kusuma_metamorph_etl_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    payload = encode_jpeg(img, quality=90)

    def widen_dqt(marker, body):
        if marker != 0xDB:
            return marker, body
        out = bytearray()
        off = 0
        while off < len(body):  # 65-byte pq=0 tables → 129-byte pq=1
            assert body[off] >> 4 == 0
            out.append(0x10 | (body[off] & 0x0F))
            out += np.frombuffer(
                body, np.uint8, count=64, offset=off + 1
            ).astype(">u2").tobytes()
            off += 65
        return marker, bytes(out)

    wide = _rewrite_jpeg_segments(payload, widen_dqt)
    assert wide != payload and len(wide) > len(payload)
    assert np.array_equal(decode_jpeg(wide), decode_jpeg(payload))


def test_jpeg_sof1_extended_sequential_decodes():
    """SOF1 (extended sequential) at 8-bit precision is the baseline
    decode path with relaxed table limits — same pixels as SOF0; the
    genuinely different coding still behind the seam is
    arithmetic-LOSSLESS (0xCB).  (SOF3 lossless was the gate exemplar
    until it graduated in r12; arithmetic SOF9/SOF10 until r13.)"""
    import pytest as _pytest

    from kusuma_metamorph_etl_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    img = np.arange(16 * 16 * 3, dtype=np.int64).reshape(16, 16, 3)
    img = (img * 31 % 256).astype(np.uint8)
    payload = encode_jpeg(img, quality=85)
    sof1 = _rewrite_jpeg_segments(
        payload, lambda m, b: (0xC1 if m == 0xC0 else m, b)
    )
    assert sof1 != payload
    assert np.array_equal(decode_jpeg(sof1), decode_jpeg(payload))
    sof11 = _rewrite_jpeg_segments(
        payload, lambda m, b: (0xCB if m == 0xC0 else m, b)
    )
    with _pytest.raises(NotImplementedError):
        decode_jpeg(sof11)


def _encode_noninterleaved_jpeg(
    arr, quality=90, subsampling="444", restart_interval=0
):
    """Test-local non-interleaved baseline writer (one SOS per component,
    data units in each component's own raster order per T.81 A.2.2) —
    the module encoder is deliberately interleaved-only, so the decoder's
    multi-scan path is checked against an independent stream layout."""
    from kusuma_metamorph_etl_spark.operators import jpeg as J

    arr = np.asarray(arr, np.uint8)
    h, w = arr.shape[:2]
    rgb = arr.astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    sub = subsampling == "420"
    q_luma = J._quality_scale(J._Q_LUMA, quality)
    q_chroma = J._quality_scale(J._Q_CHROMA, quality)
    # Pad exactly like the interleaved encoder (MCU-multiple edge
    # replication BEFORE chroma averaging) so every coded block's content
    # matches the interleaved file and stream layout is the only
    # difference; then CROP each component to its own non-interleaved
    # grid — ceil(scaled dims / 8) blocks, smaller than the MCU grid.
    mcu = 16 if sub else 8
    fh, fw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    planes = [
        np.pad(p, ((0, fh - h), (0, fw - w)), mode="edge") for p in planes
    ]
    if sub:
        planes[1:] = [
            p.reshape(fh // 2, 2, fw // 2, 2).mean(axis=(1, 3))
            for p in planes[1:]
        ]
    scans = []
    for ci, plane in enumerate(planes):
        vi = hi = 2 if (sub and ci == 0) else 1
        vmax = hmax = 2 if sub else 1
        sh, sw = -(-h * vi // vmax), -(-w * hi // hmax)
        plane = plane[: -(-sh // 8) * 8, : -(-sw // 8) * 8]
        ph, pw = plane.shape
        q = q_luma if ci == 0 else q_chroma
        bw = J._BitWriter()
        pred, unit = 0, 0
        for yb in range(ph // 8):
            for xb in range(pw // 8):
                if restart_interval and unit and unit % restart_interval == 0:
                    bw.restart(unit // restart_interval - 1)
                    pred = 0
                pred = J._encode_block(
                    bw, plane[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8], q, pred
                )
                unit += 1
        scans.append(bw.flush())
    out = bytearray(b"\xff\xd8")
    for ti, q in enumerate([q_luma, q_chroma]):
        zz = q.ravel()[J._ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti]) + zz
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for ci in range(3):
        sampling = 0x22 if (sub and ci == 0) else 0x11
        sof += bytes([ci + 1, sampling, 0 if ci == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += J._dht_segment(0x00, J._DC_BITS, J._DC_SYMBOLS)
    out += J._dht_segment(0x10, J._AC_BITS, J._AC_SYMBOLS)
    out += J._dht_segment(0x01, J._DC_BITS, J._DC_SYMBOLS)
    out += J._dht_segment(0x11, J._AC_BITS, J._AC_SYMBOLS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    for ci, scan in enumerate(scans):
        sos = bytes([1, ci + 1, 0x00 if ci == 0 else 0x11]) + b"\x00\x3f\x00"
        out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        out += scan
    out += b"\xff\xd9"
    return bytes(out)


def _encode_jpeg12(arr):
    """Test-local 12-bit SOF1 writer: interleaved single scan, all-ones
    quantization emitted as 16-bit DQT entries (Pq=1), level shift 2048.
    The module encoder is deliberately 8-bit; this exercises the
    decoder's 12-bit path (T.81 Table B.2: extended sequential, P=12).
    Block values must keep DC diffs under 2^11 (the canonical DC table's
    largest size category)."""
    from kusuma_metamorph_etl_spark.operators import jpeg as J

    arr = np.asarray(arr, np.float64)
    grey = arr.ndim == 2
    h, w = arr.shape[:2]
    assert h % 8 == 0 and w % 8 == 0
    if grey:
        planes = [arr]
    else:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 2048.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 2048.0,
        ]
    q = np.ones((8, 8))
    bw = J._BitWriter()
    preds = [0] * len(planes)
    for my in range(h // 8):
        for mx in range(w // 8):
            for ci, pl in enumerate(planes):
                block = pl[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]
                coef = J._C @ (block - 2048.0) @ J._C.T
                zz = np.round(coef / q).astype(np.int64).ravel()[J._ZIGZAG]
                dc = int(zz[0])
                size, bits = J._magnitude(dc - preds[ci])
                preds[ci] = dc
                code, length = J._DC_CODES[size]
                bw.write(code, length)
                if size:
                    bw.write(bits, size)
                run = 0
                for v in zz[1:]:
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        zc, zl = J._AC_CODES[0xF0]
                        bw.write(zc, zl)
                        run -= 16
                    size, bits = J._magnitude(int(v))
                    zc, zl = J._AC_CODES[(run << 4) | size]
                    bw.write(zc, zl)
                    bw.write(bits, size)
                    run = 0
                if run:
                    zc, zl = J._AC_CODES[0x00]  # EOB
                    bw.write(zc, zl)
    scan = bw.flush()
    out = bytearray(b"\xff\xd8")
    zz16 = q.ravel()[J._ZIGZAG].astype(">u2").tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 131) + bytes([0x10]) + zz16
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 12, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])
    out += b"\xff\xc1" + struct.pack(">H", len(sof) + 2) + sof  # SOF1
    out += J._dht_segment(0x00, J._DC_BITS, J._DC_SYMBOLS)
    out += J._dht_segment(0x10, J._AC_BITS, J._AC_SYMBOLS)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += scan + b"\xff\xd9"
    return bytes(out)


def test_jpeg_12bit_greyscale_decodes_at_depth():
    """12-bit SOF1 greyscale: samples present raw at file depth (uint16,
    0..4095) like 16-bit PNG; with unit quantization a piecewise-constant
    image reconstructs within 1 level."""
    from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

    # 2x3 grid of constant 8x8 blocks, values well above 8-bit range,
    # stepping <= 2^8 per block so DC diffs stay inside the DC table
    vals = [[1900, 2050, 2200], [2100, 2249, 2400]]
    img = np.repeat(np.repeat(np.array(vals), 8, axis=0), 8, axis=1)
    out = decode_jpeg(_encode_jpeg12(img))
    assert out.dtype == np.uint16 and out.shape == (16, 24)
    assert out.max() > 2300  # provably beyond 8-bit
    assert np.abs(out.astype(int) - img).max() <= 1


def test_jpeg_12bit_color_and_precision_gates():
    from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

    img = np.zeros((8, 8, 3), np.int64)
    img[..., 0], img[..., 1], img[..., 2] = 2000, 2200, 1900
    payload = _encode_jpeg12(img)
    out = decode_jpeg(payload)
    assert out.dtype == np.uint16
    assert np.abs(out.astype(int) - img).max() <= 4  # BT.601 roundtrip
    # SOF0 claiming 12-bit is a spec violation, not a seam
    sof0 = _rewrite_jpeg_segments(
        payload, lambda m, b: (0xC0 if m == 0xC1 else m, b)
    )
    with pytest.raises(ValueError):
        decode_jpeg(sof0)
    # precision values T.81 never allows under DCT frames stay gated
    def set_prec10(m, b):
        return (m, bytes([10]) + b[1:]) if m == 0xC1 else (m, b)

    with pytest.raises(NotImplementedError):
        decode_jpeg(_rewrite_jpeg_segments(payload, set_prec10))


def _encode_lossless_jpeg(arr, predictor=1, pt=0, precision=None,
                          interleaved=True):
    """Test-local SOF3 lossless writer (T.81 Annex H, 1×1 sampling,
    interleaved single scan): Huffman-coded prediction differences with
    a 17-symbol all-length-6 canonical table (sizes 0..16), differences
    mod 2^16, the 32768 difference coded as the bit-free size-16
    category.  The module has no lossless encoder; this checks decode."""
    from kusuma_metamorph_etl_spark.operators import jpeg as J

    arr = np.asarray(arr)
    grey = arr.ndim == 2
    h, w = arr.shape[:2]
    ncomp = 1 if grey else arr.shape[2]
    if precision is None:
        precision = 8 if arr.dtype == np.uint8 else 16
    planes = [
        (arr if grey else arr[..., c]).astype(np.int64) >> pt
        for c in range(1) if grey
    ] or [arr[..., c].astype(np.int64) >> pt for c in range(ncomp)]
    if grey:
        planes = [arr.astype(np.int64) >> pt]
    bits_tbl = [0] * 16
    bits_tbl[5] = 17  # seventeen 6-bit codes: sizes 0..16
    symbols = list(range(17))
    codes = J._canonical_codes(bits_tbl, symbols)
    default = 1 << (precision - 1 - pt)

    def encode_scan(scan_planes):
        bw = J._BitWriter()
        for y in range(h):
            for x in range(w):
                for pl in scan_planes:
                    if y == 0 and x == 0:
                        p = default
                    elif y == 0:
                        p = int(pl[0, x - 1])
                    elif x == 0:
                        p = int(pl[y - 1, 0])
                    else:
                        ra, rb, rc = (
                            int(pl[y, x - 1]),
                            int(pl[y - 1, x]),
                            int(pl[y - 1, x - 1]),
                        )
                        p = (
                            ra, rb, rc,
                            ra + rb - rc,
                            ra + ((rb - rc) >> 1),
                            rb + ((ra - rc) >> 1),
                            (ra + rb) >> 1,
                        )[predictor - 1]
                    d = (int(pl[y, x]) - p) % 65536
                    if d == 32768:
                        code, length = codes[16]
                        bw.write(code, length)  # size 16: no extra bits
                        continue
                    signed = d - 65536 if d >= 32768 else d
                    size, vbits = J._magnitude(signed)
                    code, length = codes[size]
                    bw.write(code, length)
                    if size:
                        bw.write(vbits, size)
        return bw.flush()

    def sos_segment(comp_ids):
        sos = bytes([len(comp_ids)])
        for ci in comp_ids:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([predictor, 0, pt])
        return b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    out = bytearray(b"\xff\xd8")
    out += J._dht_segment(0x00, bits_tbl, symbols)
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])
    out += b"\xff\xc3" + struct.pack(">H", len(sof) + 2) + sof
    if interleaved:
        out += sos_segment(list(range(ncomp))) + encode_scan(planes)
    else:  # one scan per component (non-interleaved lossless)
        for ci, pl in enumerate(planes):
            out += sos_segment([ci]) + encode_scan([pl])
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_lossless_handassembled_spec_vector():
    """Independent grounding for the SOF3 path: a 2x2 greyscale image
    whose entropy stream is derived BY HAND from T.81 Annex H (not via
    the test writer) — first sample predicts from the default 128,
    rest of first line from Ra, first column from Rb, last from P1.
    Table: canonical all-length-6 codes, symbol i == code i."""
    from kusuma_metamorph_etl_spark.operators import jpeg as J
    from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

    # diffs: 100-128=-28 (size 5, bits 3), +1 (size 1, bits 1),
    #        +3 (size 2, bits 3), +1 (size 1, bits 1)
    bitstring = (
        "000101" + "00011"      # size 5, bits 00011
        + "000001" + "1"        # size 1, bit 1
        + "000010" + "11"       # size 2, bits 11
        + "000001" + "1"        # size 1, bit 1
    )
    bitstring += "1" * (-len(bitstring) % 8)  # 1-pad to byte boundary
    scan = int(bitstring, 2).to_bytes(len(bitstring) // 8, "big")
    scan = scan.replace(b"\xff", b"\xff\x00")  # entropy 0xFF is stuffed
    bits_tbl = [0] * 16
    bits_tbl[5] = 17
    payload = (
        b"\xff\xd8"
        + J._dht_segment(0x00, bits_tbl, list(range(17)))
        + b"\xff\xc3" + struct.pack(">H", 11)
        + struct.pack(">BHHB", 8, 2, 2, 1) + bytes([1, 0x11, 0])
        + b"\xff\xda" + struct.pack(">H", 8)
        + bytes([1, 1, 0x00, 1, 0, 0])
        + scan + b"\xff\xd9"
    )
    out = decode_jpeg(payload)
    assert out.dtype == np.uint8
    assert out.tolist() == [[100, 101], [103, 104]]


def test_jpeg_lossless_roundtrip_all_predictors():
    """SOF3 decode is exact for every predictor P1..P7 on random 8-bit
    greyscale — lossless means lossless."""
    from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(9, 13), dtype=np.uint8)
    for predictor in range(1, 8):
        out = decode_jpeg(_encode_lossless_jpeg(img, predictor=predictor))
        assert np.array_equal(out, img), predictor


def test_jpeg_lossless_16bit_and_modulo_wrap():
    """16-bit lossless: full-range uint16 samples roundtrip exactly,
    including a crafted ±32768 jump that exercises the bit-free size-16
    difference category and the mod-2^16 reconstruction."""
    from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

    rng = np.random.default_rng(29)
    img = rng.integers(0, 65536, size=(6, 8), dtype=np.uint16)
    img[0, 0], img[0, 1] = 0, 32768  # diff exactly +32768
    out = decode_jpeg(_encode_lossless_jpeg(img, predictor=1))
    assert out.dtype == np.uint16
    assert np.array_equal(out, img)


def test_jpeg_lossless_rgb_and_point_transform():
    """3-component lossless: components present RAW (T.81 defines no
    color transform for lossless processes).  Point transform Pt=2:
    decode equals the input with the low 2 bits dropped then restored
    as zeros (H.1: output = reconstructed << Pt)."""
    from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    out = decode_jpeg(_encode_lossless_jpeg(img))
    assert np.array_equal(out, img)
    out_pt = decode_jpeg(_encode_lossless_jpeg(img, predictor=4, pt=2))
    assert np.array_equal(out_pt, (img >> 2) << 2)
    # non-interleaved layout: one scan per component, planes accumulate
    # across scans and the image assembles after the last one
    out_ni = decode_jpeg(
        _encode_lossless_jpeg(img, predictor=7, interleaved=False)
    )
    assert np.array_equal(out_ni, img)


def test_jpeg_multiscan_sequential_444_matches_interleaved():
    """Non-interleaved sequential decode: per-block quantized
    coefficients are identical to the interleaved encoding of the same
    image (only stream order and DC chains differ), so the decoded
    pixels must match the interleaved file EXACTLY."""
    from kusuma_metamorph_etl_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    non_il = _encode_noninterleaved_jpeg(img, quality=90)
    assert np.array_equal(
        decode_jpeg(non_il), decode_jpeg(encode_jpeg(img, quality=90))
    )


def test_jpeg_multiscan_sequential_420_component_grids():
    """4:2:0 multi-scan: the single-component data-unit grid is the
    component's scaled size padded to 8 (T.81 A.2.2), NOT the MCU-padded
    interleaved grid — at 24x24 the luma scan is 3x3 blocks where the
    interleaved layout carries 4x4.  Decoded crop must still match."""
    from kusuma_metamorph_etl_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    non_il = _encode_noninterleaved_jpeg(img, quality=92, subsampling="420")
    il = encode_jpeg(img, quality=92, subsampling="420")
    assert len(non_il) < len(il)  # fewer coded blocks: 9+4+4 vs 16+4+4
    assert np.array_equal(decode_jpeg(non_il), decode_jpeg(il))


def test_jpeg_multiscan_sequential_restart_intervals():
    """DRI in a non-interleaved scan counts SINGLE data units and the
    RSTn numbering restarts per scan (T.81 F.2.1.3.1)."""
    from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    with_rst = _encode_noninterleaved_jpeg(img, quality=90, restart_interval=4)
    plain = _encode_noninterleaved_jpeg(img, quality=90)
    assert with_rst.count(b"\xff\xd0") >= 3  # RST0 appears in every scan
    assert np.array_equal(decode_jpeg(with_rst), decode_jpeg(plain))


def test_resize_preserves_gif_and_jpeg_formats():
    """Regression (r8 review): resize_image's local bmp/png if-chain
    predated GIF/JPEG support and silently re-encoded both as PPM."""
    img = np.full((16, 16, 3), 170, dtype=np.uint8)
    from kusuma_metamorph_etl_spark.operators.jpeg import encode_jpeg

    gif = multimodal.encode_gif(img)
    out = multimodal.resize_image(gif, 8, 8)
    assert multimodal.decode_image(out)["format"] == "gif"
    jpg = encode_jpeg(img, quality=95)
    out = multimodal.resize_image(jpg, 8, 8)
    dec = multimodal.decode_image(out)
    assert dec["format"] == "jpeg"
    assert (dec["width"], dec["height"]) == (8, 8)


def test_sample_frames_no_phantom_frame_on_exact_multiple(spark):
    """Regression (r8 review): a payload of exactly k*n bytes emitted a
    zero-length frame starting one byte past the end."""
    df = spark.createDataFrame(
        [(1, bytearray(b"x" * 256)), (2, bytearray(b"y" * 250)), (3, bytearray(b""))],
        "doc_id long, payload binary",
    )
    out = multimodal.sample_frames(df, every_n_bytes=64, max_frames=8)
    rows = sorted(
        (r["doc_id"], r["frame_idx"], bytes(r["frame_bytes"]))
        for r in out.collect()
    )
    by_doc = {}
    for d, i, b in rows:
        by_doc.setdefault(d, []).append((i, b))
    assert [i for i, _ in by_doc[1]] == [0, 1, 2, 3]  # not 0..4
    assert all(len(b) == 8 for _, b in by_doc[1])
    assert [i for i, _ in by_doc[2]] == [0, 1, 2, 3]
    assert by_doc[3] == [(0, b"")]  # empty payload: one declared empty frame


def test_transcode_quarantine_quantifies_carveout(spark, sf_small):
    """VERDICT r8 #7 accounting half: a corrupt payload and a genuinely
    unsupported codec (arithmetic-LOSSLESS 0xCB — SOF9/SOF10 graduated
    in r13) must not kill the normalization job under
    on_error='quarantine' — they land in the quarantine rows with the
    exception text, and the good rows still transcode.  Default stays
    raise."""
    import struct

    import pytest as _pytest

    from kusuma_metamorph_etl_spark.operators.jpeg import encode_jpeg

    good = multimodal.encode_ppm(np.full((4, 4, 3), 7, dtype=np.uint8))
    corrupt = b"P6\n4 4\n255\n"  # truncated PPM body
    arith = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    arith[arith.find(b"\xff\xc0") + 1] = 0xCB  # arithmetic lossless
    df = spark.createDataFrame(
        [(1, good), (2, corrupt), (3, bytes(arith))],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.transcode_images(
            df, to="png", on_error="quarantine"
        ).collect()
    }
    assert out[1]["src_format"] == "ppm" and out[1]["error"] is None
    assert multimodal.decode_image(bytes(out[1]["payload"]))["format"] == "png"
    assert out[2]["src_format"] == "error" and out[2]["payload"] is None
    assert out[3]["src_format"] == "error"
    assert "NotImplementedError" in out[3]["error"]
    # ENCODE failures keep the true src_format/dims (r9 self-review):
    # a healthy 16-distinct-color-per-channel PPM can't be a GIF
    # (4096 colors > 256) but it is NOT a corrupt input
    many = (np.arange(4096, dtype=np.uint32).reshape(64, 64) % 4096)
    rgb = np.stack(
        [many % 16 * 17, many // 16 % 16 * 17, many // 256 * 17], axis=2
    ).astype(np.uint8)
    hard = spark.createDataFrame(
        [(9, multimodal.encode_ppm(rgb))], "doc_id long, payload binary"
    )
    [r9] = multimodal.transcode_images(
        hard, to="gif", on_error="quarantine"
    ).collect()
    assert r9["src_format"] == "ppm"  # true format survives
    assert (r9["width"], r9["height"]) == (64, 64)
    assert r9["payload"] is None and "palette" in r9["error"].lower()
    # the carve-out is a queryable count, not a crash or a silent drop
    quarantined = (
        multimodal.transcode_images(df, to="png", on_error="quarantine")
        .filter(F.col("src_format") == "error")
        .count()
    )
    assert quarantined == 2
    # default mode still fails loudly (and has no error column)
    with _pytest.raises(Exception):
        multimodal.transcode_images(df, to="png").collect()
    ok_only = multimodal.transcode_images(
        df.filter(F.col("doc_id") == 1), to="png"
    )
    assert "error" not in ok_only.columns


def _encode_arith_noninterleaved(arr, quality=90, dc_cond=(0, 1), kx=5,
                                 restart_interval=0):
    """Test-local NON-INTERLEAVED arithmetic writer (one SOS per
    component, each component's own ceil grid per T.81 A.2.2), with
    configurable DAC conditioning — the module encoder is deliberately
    interleaved-with-default-conditioning, so the decoder's
    multi-scan arithmetic path and its DAC parsing are checked against
    an independent stream layout.  Pads exactly like the interleaved
    encoder so quantized blocks match and stream layout is the only
    variable."""
    from kusuma_metamorph_etl_spark.operators import jpeg as J

    arr = np.asarray(arr, np.uint8)
    h, w = arr.shape[:2]
    rgb = arr.astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    q_luma = J._quality_scale(J._Q_LUMA, quality)
    q_chroma = J._quality_scale(J._Q_CHROMA, quality)
    fh, fw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = [
        np.pad(p, ((0, fh - h), (0, fw - w)), mode="edge") for p in planes
    ]
    scans = []
    for ci, plane in enumerate(planes):
        q = q_luma if ci == 0 else q_chroma
        stats = J._ArithStats(3)
        enc = J._ArithEncoder()
        parts = bytearray()
        unit = 0
        for yb in range(fh // 8):
            for xb in range(fw // 8):
                if restart_interval and unit and unit % restart_interval == 0:
                    parts += enc.flush()
                    parts += bytes(
                        [0xFF, 0xD0 + (unit // restart_interval - 1) % 8]
                    )
                    enc = J._ArithEncoder()
                    stats.reset()
                zz = J._quantize_block(
                    plane[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8], q
                )
                tb = 0 if ci == 0 else 1
                J._arith_encode_block(enc, stats, ci, tb, tb, dc_cond, kx, zz)
                unit += 1
        scans.append(bytes(parts) + enc.flush())
    out = bytearray(b"\xff\xd8")
    for ti, q in enumerate([q_luma, q_chroma]):
        zz = q.ravel()[J._ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti]) + zz
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for ci in range(3):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += b"\xff\xc9" + struct.pack(">H", len(sof) + 2) + sof  # SOF9
    low, up = dc_cond
    dac = bytes([0x00, (up << 4) | low, 0x10, kx])
    dac += bytes([0x01, (up << 4) | low, 0x11, kx])
    out += b"\xff\xcc" + struct.pack(">H", len(dac) + 2) + dac
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    for ci, scan in enumerate(scans):
        sos = bytes([1, ci + 1, 0x00 if ci == 0 else 0x11]) + b"\x00\x3f\x00"
        out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        out += scan
    out += b"\xff\xd9"
    return bytes(out)


class TestJpegArithmetic:
    """Sequential arithmetic JPEG (SOF9, the QM coder of T.81 Annexes
    D + F).  The coder is grounded twice over, independently of its own
    roundtrip: a 4-decision vector worked through the CODELPS/CODEMPS/
    RENORME/FLUSH flowcharts BY HAND (derivation in the test body), and
    the 256-bit ITU-T T.81 §K.4 test sequence whose published 29-byte
    coded form the encoder reproduces exactly and the decoder inverts."""

    def test_qm_hand_derived_flowchart_vector(self):
        """Hand derivation — one context from (index 0, MPS 0),
        Qe0=0x5A1D, encoder registers (A=0x10000, C=0, CT=11):

        * D=0 (MPS): CODEMPS, A=0xA5E3, no renorm.
        * D=1 (LPS): temp=0x4BC6 < Qe → exchange keeps C, A=0x4BC6;
          switch flips MPS→1, state→1 (Qe=0x2586); renorm ×1:
          A=0x978C, CT=10.
        * D=0 (LPS of MPS=1): temp=0x7206 ≥ Qe → C+=temp=0x7206,
          A=0x2586, state→14 (Qe=0x5A7F); renorm ×2: A=0x9618,
          C=0x1C818, CT=8.
        * D=1 (MPS): temp=0x3B99 < Qe → exchange C+=temp=0x203B1,
          A=0x5A7F, state→15; renorm ×1: A=0xB4FE, C=0x40762, CT=7.
        * FLUSH: clearbits → C=0x48000; C<<=7 → 0x2400000; no final
          carry; byte 0x2400000>>19 = 0x48, low field empty → b"\\x48".
        """
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            _ArithDecoder,
            _ArithEncoder,
        )

        st = bytearray([0])
        enc = _ArithEncoder()
        for bit in (0, 1, 0, 1):
            enc.encode(st, 0, bit)
        assert enc.flush() == b"\x48"
        st = bytearray([0])
        dec = _ArithDecoder(b"\x48")
        assert [dec.decode(st, 0) for _ in range(4)] == [0, 1, 0, 1]

    # ITU-T T.81 §K.4: 256-bit test sequence and its published coded
    # form (the stuffed 0x00 after 0xFF is part of the published bytes).
    K4_DATA = bytes.fromhex(
        "00020051000000c00352872aaaaaaaaa82c02000fcd79ef674eaabf7697ee74c"
    )
    K4_CODED = bytes.fromhex(
        "655b5144f7969d517855bfff00fc5184c7cef93900287d46708ecbc0f6"
    )

    def test_qm_itu_k4_test_sequence(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            _ArithDecoder,
            _ArithEncoder,
        )

        bits = [
            (byte >> (7 - i)) & 1 for byte in self.K4_DATA for i in range(8)
        ]
        st = bytearray([0])
        enc = _ArithEncoder()
        for bit in bits:
            enc.encode(st, 0, bit)
        assert enc.flush() == self.K4_CODED
        st = bytearray([0])
        dec = _ArithDecoder(self.K4_CODED)
        assert [dec.decode(st, 0) for _ in range(256)] == bits

    def test_qm_table_invariants(self):
        """Structural pins on the Table D.3 transcription: probability
        estimates move the right way (LPS raises Qe on non-switch rows,
        MPS lowers it), indices stay in range, every state is reachable
        from the start state."""
        from kusuma_metamorph_etl_spark.operators.jpeg import _ARITH_TABLE

        assert len(_ARITH_TABLE) == 114
        for i, (qe, nmps, nlps, sw) in enumerate(_ARITH_TABLE[:113]):
            assert 0 < qe < 0x8000
            assert nmps < 113 and nlps < 113
            if sw == 0:
                assert _ARITH_TABLE[nlps][0] > qe, i
            if nmps != i:
                assert _ARITH_TABLE[nmps][0] <= qe, i
        seen, frontier = {0}, [0]
        while frontier:
            i = frontier.pop()
            for j in _ARITH_TABLE[i][1:3]:
                if j not in seen:
                    seen.add(j)
                    frontier.append(j)
        assert len(seen) == 113
        qe, nmps, nlps, sw = _ARITH_TABLE[113]  # the fixed AC-sign bin
        assert (nmps, nlps, sw) == (113, 113, 0)

    def test_arith_decode_equals_huffman_twin(self):
        """Same DCT + quantization, different entropy coder — decoded
        pixels must be IDENTICAL to the Huffman file's, and the
        arithmetic file smaller (the coding gain is the format's whole
        point)."""
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.RandomState(7)
        cases = [
            ((24, 33, 3), "444"),
            ((24, 33, 3), "420"),
            ((17, 9), "444"),  # greyscale, non-multiple dims
            ((8, 8, 3), "444"),
        ]
        for shape, sub in cases:
            base_shape = (4, 4) if len(shape) == 2 else (4, 4, 3)
            tile = (8, 9) if len(shape) == 2 else (8, 9, 1)
            img = np.kron(
                rng.randint(0, 255, base_shape).astype(np.float64),
                np.ones(tile),
            )[: shape[0], : shape[1]].astype(np.uint8)
            hj = encode_jpeg(img, quality=90, subsampling=sub)
            aj = encode_jpeg(img, quality=90, subsampling=sub, arithmetic=True)
            assert aj[:4] == b"\xff\xd8\xff\xe0" and b"\xff\xc9" in aj
            assert b"\xff\xc4" not in aj[: aj.index(b"\xff\xda")]  # no DHT
            assert np.array_equal(decode_jpeg(aj), decode_jpeg(hj)), (shape, sub)
            assert len(aj) < len(hj), (shape, sub)
        # pure noise stresses every AC context
        img = rng.randint(0, 256, (32, 32, 3), dtype=np.uint8)
        hj = encode_jpeg(img, quality=95)
        aj = encode_jpeg(img, quality=95, arithmetic=True)
        assert np.array_equal(decode_jpeg(aj), decode_jpeg(hj))

    def test_arith_restart_intervals(self):
        """RSTn between restart intervals: coder flushed and statistics
        reset on both sides (F.1.4.1); out-of-sequence markers raise."""
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.RandomState(8)
        img = np.kron(
            rng.randint(0, 255, (6, 6, 3)).astype(np.float64),
            np.ones((8, 8, 1)),
        )[:44, :41].astype(np.uint8)
        hj = encode_jpeg(img, quality=85, restart_interval=3)
        aj = encode_jpeg(img, quality=85, restart_interval=3, arithmetic=True)
        assert any(
            bytes([0xFF, 0xD0 + n]) in aj for n in range(8)
        )
        assert np.array_equal(decode_jpeg(aj), decode_jpeg(hj))
        # corrupt the first restart marker's index: must raise, not skew
        bad = bytearray(aj)
        at = bad.find(b"\xff\xd0", bad.find(b"\xff\xda"))
        assert at > 0
        bad[at + 1] = 0xD3
        with pytest.raises(ValueError, match="RST"):
            decode_jpeg(bytes(bad))

    def test_arith_noninterleaved_scans_match_interleaved(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.RandomState(9)
        img = np.kron(
            rng.randint(0, 255, (3, 4, 3)).astype(np.float64),
            np.ones((8, 8, 1)),
        )[:20, :27].astype(np.uint8)
        il = encode_jpeg(img, quality=90, arithmetic=True)
        nil = _encode_arith_noninterleaved(img, quality=90)
        assert np.array_equal(decode_jpeg(nil), decode_jpeg(il))

    def test_arith_nondefault_dac_conditioning(self):
        """Non-default conditioning (L=1/U=3, Kx=20) declared in DAC and
        honored by the decoder — wrong conditioning would desynchronize
        the context sequence immediately."""
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.RandomState(10)
        img = rng.randint(0, 256, (24, 24, 3), dtype=np.uint8)
        nd = _encode_arith_noninterleaved(img, dc_cond=(1, 3), kx=20)
        assert np.array_equal(
            decode_jpeg(nd), decode_jpeg(encode_jpeg(img, quality=90))
        )

    def test_arith_12bit_greyscale(self):
        """12-bit SOF9: same extended-sequential frame layout, arithmetic
        entropy; unit quantization makes the decode exact at file depth
        (uint16, level shift 2048)."""
        from kusuma_metamorph_etl_spark.operators import jpeg as J

        arr = np.zeros((8, 16), np.float64)
        arr[:, :8] = 3000.0
        arr[:, 8:] = 500.0
        q = np.ones((8, 8))
        stats = J._ArithStats(1)
        enc = J._ArithEncoder()
        for xb in range(2):
            block = arr[:, xb * 8 : xb * 8 + 8]
            coef = J._C @ (block - 2048.0) @ J._C.T
            zz = np.round(coef / q).astype(np.int64).ravel()[J._ZIGZAG]
            J._arith_encode_block(enc, stats, 0, 0, 0, (0, 1), 5, zz)
        scan = enc.flush()
        out = bytearray(b"\xff\xd8")
        zz16 = q.ravel()[J._ZIGZAG].astype(">u2").tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 131) + bytes([0x10]) + zz16
        sof = struct.pack(">BHHB", 12, 8, 16, 1) + bytes([1, 0x11, 0])
        out += b"\xff\xc9" + struct.pack(">H", len(sof) + 2) + sof
        out += b"\xff\xcc" + struct.pack(">H", 6) + bytes([0x00, 0x10, 0x10, 0x05])
        sos = bytes([1, 1, 0x00]) + b"\x00\x3f\x00"
        out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        out += scan + b"\xff\xd9"
        px = J.decode_jpeg(bytes(out))
        assert px.dtype == np.uint16
        assert int(px[0, 0]) == 3000 and int(px[0, 15]) == 500

    def test_arith_dac_validation(self):
        """Malformed DAC conditioning is a ValueError (B.2.4.3 bounds:
        DC needs L <= U, AC needs 1 <= Kx <= 63)."""
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        aj = bytearray(
            encode_jpeg(np.zeros((8, 8), np.uint8), arithmetic=True)
        )
        at = aj.find(b"\xff\xcc")
        bad_kx = bytearray(aj)
        bad_kx[at + 7] = 0  # AC Kx = 0
        with pytest.raises(ValueError, match="Kx"):
            decode_jpeg(bytes(bad_kx))
        bad_dc = bytearray(aj)
        bad_dc[at + 5] = 0x02  # DC Cs: U=0 < L=2
        with pytest.raises(ValueError, match="conditioning"):
            decode_jpeg(bytes(bad_dc))


class _ArithProgressiveWriter:
    """Test-local arithmetic-PROGRESSIVE writer (SOF10 encoder side,
    T.81 G.2 with the Annex F conditioning models), used only to
    produce fixtures for the decoder under test: given per-component
    quantized zigzag blocks (the same forward math as the module
    encoder), emit an SOF10 file under an arbitrary scan script."""

    def __init__(self, comps, dc_cond=(0, 1), kx=5):
        from kusuma_metamorph_etl_spark.operators import jpeg as J

        self.J = J
        self.comps = comps  # [(cid, hi, vi, tq)]
        self.dc_cond = dc_cond
        self.kx = kx
        self.scans = []  # (sos_body, entropy_bytes)

    def _new(self):
        J = self.J
        return J._ArithEncoder(), J._ArithStats(len(self.comps))

    def dc_first(self, blocks, order, al):
        """blocks: cid -> (BY, BX, 64) zigzag arrays; MCU-interleaved
        over `order` (all components)."""
        J = self.J
        enc, stats = self._new()
        mcuy = min(
            blocks[cid].shape[0] // vi
            for cid, hi, vi, tq in self.comps
        )
        mcux = min(
            blocks[cid].shape[1] // hi
            for cid, hi, vi, tq in self.comps
        )
        idx = {c[0]: i for i, c in enumerate(self.comps)}
        for my in range(mcuy):
            for mx in range(mcux):
                for cid in order:
                    _c, hi, vi, _tq = self.comps[idx[cid]]
                    ci = idx[cid]
                    for v in range(vi):
                        for hh in range(hi):
                            zz0 = int(blocks[cid][my * vi + v, mx * hi + hh, 0])
                            shifted = zz0 >> al
                            diff = shifted - stats.last_dc[ci]
                            stats.last_dc[ci] = shifted
                            J._arith_encode_dc(
                                enc, stats.dc_bins(0), ci, stats,
                                self.dc_cond, diff,
                            )
        sos = bytes([len(order)])
        for cid in order:
            sos += bytes([cid, 0x00])
        sos += bytes([0, 0, al & 0x0F])
        self.scans.append((sos, enc.flush()))

    def dc_refine(self, blocks, order, al):
        enc, stats = self._new()
        idx = {c[0]: i for i, c in enumerate(self.comps)}
        mcuy = min(blocks[c[0]].shape[0] // c[2] for c in self.comps)
        mcux = min(blocks[c[0]].shape[1] // c[1] for c in self.comps)
        for my in range(mcuy):
            for mx in range(mcux):
                for cid in order:
                    _c, hi, vi, _tq = self.comps[idx[cid]]
                    for v in range(vi):
                        for hh in range(hi):
                            zz0 = int(blocks[cid][my * vi + v, mx * hi + hh, 0])
                            enc.encode(stats.fixed, 0, (zz0 >> al) & 1)
        sos = bytes([len(order)])
        for cid in order:
            sos += bytes([cid, 0x00])
        sos += bytes([0, 0, ((al + 1) << 4) | al])
        self.scans.append((sos, enc.flush()))

    def ac_first(self, blocks, cid, ss, se, al):
        enc, stats = self._new()
        st = stats.ac_bins(1 if cid != self.comps[0][0] else 0)
        tb = 0 if cid == self.comps[0][0] else 1
        by, bx = blocks[cid].shape[:2]
        for b in range(by * bx):
            zz = blocks[cid][b // bx, b % bx]
            scaled = [
                (int(v) >> al) if v >= 0 else -((-int(v)) >> al) for v in zz
            ]
            ke = se
            while ke >= ss and scaled[ke] == 0:
                ke -= 1
            k = ss
            while k <= ke:
                base = 3 * (k - 1)
                enc.encode(st, base, 0)
                while scaled[k] == 0:
                    enc.encode(st, base + 1, 0)
                    base += 3
                    k += 1
                enc.encode(st, base + 1, 1)
                v = scaled[k]
                sign = 1 if v < 0 else 0
                enc.encode(stats.fixed, 0, sign)
                sz = abs(v) - 1
                pos = base + 2
                m = 0
                if sz:
                    enc.encode(st, pos, 1)
                    m = 1
                    v2 = sz
                    if v2 >> 1:
                        v2 >>= 1
                        enc.encode(st, pos, 1)
                        m <<= 1
                        pos = 189 if k <= self.kx else 217
                        while v2 >> 1:
                            v2 >>= 1
                            enc.encode(st, pos, 1)
                            m <<= 1
                            pos += 1
                enc.encode(st, pos, 0)
                pos += 14
                while m > 1:
                    m >>= 1
                    enc.encode(st, pos, 1 if sz & m else 0)
                k += 1
            if ke < se:
                enc.encode(st, 3 * (k - 1), 1)
        sos = bytes([1, cid, tb]) + bytes([ss, se, al & 0x0F])
        self.scans.append((sos, enc.flush()))

    def ac_refine(self, blocks, cid, ss, se, ah, al):
        enc, stats = self._new()
        tb = 0 if cid == self.comps[0][0] else 1
        st = stats.ac_bins(tb)
        by, bx = blocks[cid].shape[:2]
        for b in range(by * bx):
            zz = blocks[cid][b // bx, b % bx]
            absv = [abs(int(v)) for v in zz]
            kex = se
            while kex >= ss and (absv[kex] >> ah) == 0:
                kex -= 1
            ke = se
            while ke >= ss and (absv[ke] >> al) == 0:
                ke -= 1
            k = ss
            while k <= ke:
                base = 3 * (k - 1)
                if k > kex:
                    enc.encode(st, base, 0)
                while True:
                    t = absv[k] >> al
                    if t:
                        if t >> 1:  # previously nonzero: correction bit
                            enc.encode(st, base + 2, t & 1)
                        else:  # newly nonzero at this precision
                            enc.encode(st, base + 1, 1)
                            enc.encode(
                                stats.fixed, 0, 1 if int(zz[k]) < 0 else 0
                            )
                        break
                    enc.encode(st, base + 1, 0)
                    base += 3
                    k += 1
                k += 1
            if ke < se:
                enc.encode(st, 3 * ke, 1)
        sos = bytes([1, cid, tb]) + bytes([ss, se, (ah << 4) | al])
        self.scans.append((sos, enc.flush()))

    def tofile(self, h, w, qtables):
        J = self.J
        out = bytearray(b"\xff\xd8")
        for ti, q in enumerate(qtables):
            zz = q.ravel()[J._ZIGZAG].astype(np.uint8).tobytes()
            out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti]) + zz
        sof = struct.pack(">BHHB", 8, h, w, len(self.comps))
        for cid, hi, vi, tq in self.comps:
            sof += bytes([cid, (hi << 4) | vi, tq])
        out += b"\xff\xca" + struct.pack(">H", len(sof) + 2) + sof  # SOF10
        low, up = self.dc_cond
        dac = bytes([0x00, (up << 4) | low, 0x10, self.kx])
        if len(self.comps) > 1:
            dac += bytes([0x01, (up << 4) | low, 0x11, self.kx])
        out += b"\xff\xcc" + struct.pack(">H", len(dac) + 2) + dac
        for sos, entropy in self.scans:
            out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
            out += entropy
        out += b"\xff\xd9"
        return bytes(out)


class TestJpegArithmeticProgressive:
    """Arithmetic-PROGRESSIVE JPEG (SOF10): the Annex F conditioning
    models run per-scan in the successive-approximation domain over the
    same coefficient store as Huffman progressive.  Fixtures come from
    the test-local scan-script writer above; the gate is pixel equality
    against the SEQUENTIAL arithmetic encoding of the same image (same
    quantized coefficients, so equality is exact)."""

    @staticmethod
    def _grey_blocks(img, quality):
        from kusuma_metamorph_etl_spark.operators import jpeg as J

        h, w = img.shape
        q = J._quality_scale(J._Q_LUMA, quality)
        fh, fw = -(-h // 8) * 8, -(-w // 8) * 8
        plane = np.pad(
            img.astype(np.float64), ((0, fh - h), (0, fw - w)), mode="edge"
        )
        blocks = np.zeros((fh // 8, fw // 8, 64), np.int64)
        for yb in range(fh // 8):
            for xb in range(fw // 8):
                blocks[yb, xb] = J._quantize_block(
                    plane[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8], q
                )
        return blocks, q

    def test_greyscale_scan_script_matches_sequential(self):
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.RandomState(11)
        img = np.kron(
            rng.randint(0, 255, (3, 4)).astype(np.float64), np.ones((8, 9))
        )[:20, :27].astype(np.uint8)
        blocks, q = self._grey_blocks(img, 90)
        comps = [(1, 1, 1, 0)]
        wtr = _ArithProgressiveWriter(comps)
        store = {1: blocks}
        # classic 2-level successive approximation script
        wtr.dc_first(store, [1], al=1)
        wtr.ac_first(store, 1, ss=1, se=5, al=2)
        wtr.ac_first(store, 1, ss=6, se=63, al=2)
        wtr.dc_refine(store, [1], al=0)
        wtr.ac_refine(store, 1, ss=1, se=5, ah=2, al=1)
        wtr.ac_refine(store, 1, ss=6, se=63, ah=2, al=1)
        wtr.ac_refine(store, 1, ss=1, se=5, ah=1, al=0)
        wtr.ac_refine(store, 1, ss=6, se=63, ah=1, al=0)
        payload = wtr.tofile(*img.shape, [q])
        seq = encode_jpeg(img, quality=90, arithmetic=True)
        assert np.array_equal(decode_jpeg(payload), decode_jpeg(seq))

    def test_color_interleaved_dc_plus_band_scans(self):
        from kusuma_metamorph_etl_spark.operators import jpeg as J

        rng = np.random.RandomState(12)
        img = np.kron(
            rng.randint(0, 255, (3, 3, 3)).astype(np.float64),
            np.ones((8, 8, 1)),
        )[:22, :19].astype(np.uint8)
        h, w = img.shape[:2]
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        q_l = J._quality_scale(J._Q_LUMA, 90)
        q_c = J._quality_scale(J._Q_CHROMA, 90)
        fh, fw = -(-h // 8) * 8, -(-w // 8) * 8
        store = {}
        for ci, p in enumerate(planes):
            p = np.pad(p, ((0, fh - h), (0, fw - w)), mode="edge")
            q = q_l if ci == 0 else q_c
            blocks = np.zeros((fh // 8, fw // 8, 64), np.int64)
            for yb in range(fh // 8):
                for xb in range(fw // 8):
                    blocks[yb, xb] = J._quantize_block(
                        p[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8], q
                    )
            store[ci + 1] = blocks
        comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        wtr = _ArithProgressiveWriter(comps)
        wtr.dc_first(store, [1, 2, 3], al=0)  # interleaved DC, no SA
        for cid in (1, 2, 3):
            wtr.ac_first(store, cid, ss=1, se=63, al=0)
        payload = wtr.tofile(h, w, [q_l, q_c])
        seq = J.encode_jpeg(img, quality=90, arithmetic=True)
        assert np.array_equal(J.decode_jpeg(payload), J.decode_jpeg(seq))

    def test_sof10_gate_lifted_only_for_progressive_arithmetic(self):
        """Arithmetic-LOSSLESS (0xCB) and hierarchical frames still
        raise the named seam."""
        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        good = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
        sof = good.find(b"\xff\xc0")
        for m in (0xCB, 0xC5, 0xC6, 0xC7):
            bad = bytearray(good)
            bad[sof + 1] = m
            with pytest.raises(NotImplementedError):
                decode_jpeg(bytes(bad))


def test_fan_out_heavy_gate(spark):
    """Partitioning contract of `_fan_out` (r14 A/B): under-split inputs
    fan up to default parallelism ONLY for heavy (CPU-bound codec)
    stages — for cheap stages the repartition shuffle of payload bytes
    costs more than it buys (mm_binary_features 0.70 s vs 1.21 s);
    over-split inputs always coalesce back (narrow)."""
    from kusuma_metamorph_etl_spark.operators.multimodal import _fan_out

    target = spark.sparkContext.defaultParallelism
    under = spark.range(0, 100).coalesce(1)
    assert _fan_out(under).rdd.getNumPartitions() == 1  # cheap: untouched
    assert _fan_out(under, heavy=True).rdd.getNumPartitions() == target
    over = spark.range(0, 1000).repartition(target * 4)
    assert _fan_out(over).rdd.getNumPartitions() == target
    healthy = spark.range(0, 1000).repartition(target)
    assert _fan_out(healthy).rdd.getNumPartitions() == target


def test_injected_native_decoder_composes_through_seam(spark, sf_small):
    """The documented 100 TB escape hatch for the arithmetic-JPEG path
    (`mm_jpeg_arithmetic` docstring; SCALE.md): bulk corpora inject a
    NATIVE decoder through ``extract_binary_features(decoder=...)``
    instead of the pure-Python QM coder.  This exercises the seam once
    for real — a vectorized stand-in decoder (numpy feature math over
    the decoded array, the shape a libjpeg-turbo binding would take)
    must flow through the same Arrow ``mapInPandas`` plumbing and
    produce output EQUAL to the default pure-Python path on a corpus of
    genuine SOF9 arithmetic files."""
    from kusuma_metamorph_etl_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from kusuma_metamorph_etl_spark.operators.multimodal import (
        _synthesize_pixels,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(12)
    rows = [
        (int(r["doc_id"]),
         bytes(encode_jpeg(_synthesize_pixels(r["text"]), quality=95,
                           arithmetic=True)))
        for r in docs.select("doc_id", "text").collect()
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, payload binary")
    # Every payload really is arithmetic-coded (SOF9 + DAC present).
    for _, p in rows:
        assert b"\xff\xc9" in p and b"\xff\xcc" in p

    def native_standin(payload: bytes) -> dict:
        # Stand-in for an injected native binding: same decoded pixels,
        # features computed with vectorized numpy ops (not the
        # image_features code path).
        px = np.asarray(decode_jpeg(payload))
        h, w = px.shape[:2]
        ch = 1 if px.ndim == 2 else px.shape[2]
        return {
            "format": "jpeg",
            "width": int(w),
            "height": int(h),
            "channels": int(ch),
            "n_bytes": len(payload),
            "mean_value": float(np.mean(px, dtype=np.float64)),
            "content_md5": hashlib.md5(payload).hexdigest(),
        }

    default = multimodal.extract_binary_features(corpus, heavy=True)
    injected = multimodal.extract_binary_features(
        corpus, decoder=native_standin, heavy=True
    )
    d = {r["doc_id"]: r.asDict() for r in default.collect()}
    i = {r["doc_id"]: r.asDict() for r in injected.collect()}
    assert d == i and len(d) == 12


def test_injected_audio_decoder_composes_through_seam(spark, sf_small):
    """The audio twin of the r15 image seam proof: a vectorized stand-in
    audio decoder (numpy stats over the decoded samples, the shape a
    libsndfile/ffmpeg binding would take) injected through
    ``extract_binary_features(decoder=...)`` must flow through the same
    Arrow ``mapInPandas`` plumbing and produce output EQUAL to the
    default ``audio_features`` path on genuine WAV payloads."""
    from kusuma_metamorph_etl_spark.operators.multimodal import (
        attach_payload,
        audio_features,
        decode_audio,
        extract_binary_features,
        synthesize_wav,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(12)
    corpus = attach_payload(docs, synthesize_wav, "audio/wav").select(
        "doc_id", "payload"
    )
    schema = (
        "format string, sample_rate int, channels int, "
        "n_samples int, duration_ms double, n_bytes int, rms double"
    )

    def native_standin(payload: bytes) -> dict:
        audio = decode_audio(payload)
        s = np.asarray(audio["samples"], dtype=np.float64)
        return {
            "format": audio["format"],
            "sample_rate": audio["sample_rate"],
            "channels": audio["channels"],
            "n_samples": audio["n_samples"],
            "duration_ms": audio["duration_ms"],
            "n_bytes": len(payload),
            "rms": float(np.sqrt(np.mean(s * s))) if s.size else 0.0,
        }

    default = extract_binary_features(
        corpus, decoder=audio_features, schema=schema
    )
    injected = extract_binary_features(
        corpus, decoder=native_standin, schema=schema
    )
    d = {r["doc_id"]: r.asDict() for r in default.collect()}
    i = {r["doc_id"]: r.asDict() for r in injected.collect()}
    assert d == i and len(d) == 12


def test_injected_video_decoder_composes_through_seam(spark, sf_small):
    """Video carries the same native escape hatch as images and audio: a
    stand-in returning the ``decode_video`` dict shape, composed with
    ``video_frame_rows`` through ``map_payloads``, must produce per-frame
    output EQUAL to ``extract_video_frames``' pure-Python Y4M walk on
    genuine synthesized streams."""
    from kusuma_metamorph_etl_spark.operators.multimodal import (
        VIDEO_FRAME_SCHEMA,
        attach_payload,
        decode_video,
        extract_video_frames,
        map_payloads,
        synthesize_y4m,
        video_frame_rows,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(12)
    corpus = attach_payload(docs, synthesize_y4m, "video/y4m").select(
        "doc_id", "payload"
    )

    def native_standin(payload: bytes) -> dict:
        video = decode_video(payload)
        # same dict contract a pyav/ffmpeg binding would fill
        return {
            "frames": [{"y": np.asarray(f["y"])} for f in video["frames"]],
            "width": video["width"],
            "height": video["height"],
            "n_frames": video["n_frames"],
        }

    default = extract_video_frames(corpus)
    injected = map_payloads(
        corpus, lambda p: video_frame_rows(native_standin(p)), VIDEO_FRAME_SCHEMA
    )
    key = ["doc_id", "frame_idx"]
    d = {tuple(r[k] for k in key): r.asDict() for r in default.collect()}
    i = {tuple(r[k] for k in key): r.asDict() for r in injected.collect()}
    assert d == i and len(d) >= 12  # >=1 frame per doc
