"""[EXT] Multimodal columns (SURVEY.md §2.10 north-star).

Images/audio/video ride through the engine as opaque ``binary`` columns
with typed metadata.  Every Python pass over them goes through one of two
seams; each format contributes only its own synthesize / decode / per-row
function:

* :func:`attach_payload` — the one ``pandas_udf("binary")``: text column
  → ``payload`` (``synth(text)``) plus a ``payload_kind`` tag;
* :func:`map_payloads` — the one ``mapInPandas``: ``(id, payload)`` →
  zero or more typed rows per payload, the id carried with its input name
  and type.  Feature extraction, resize, video frame walks, augmentation
  and transcoding are row functions over it.

The image and audio codecs are REAL: pure numpy encoders/decoders for
binary PPM/PGM (P6/P5), BMP (24/32-bit BI_RGB, 8-bit palettized,
BI_RLE8), zlib-deflate PNG,
LZW-compressed GIF87a/89a, and PCM16 WAV — no external media library
needed.  JPEG rounds out the set (`operators/jpeg.py` — baseline
4:4:4 and subsampled 4:2:0/4:2:2 with DRI/RSTn restart intervals,
PROGRESSIVE SOF2 decode — the majority encoding of modern web JPEGs —
lossless SOF3, and ARITHMETIC coding via the QM coder: sequential
SOF9 decode+encode AND progressive SOF10 decode); arithmetic-lossless
and hierarchical variants raise through the same seam a production
decoder would plug into.
The container also has no real media *data*, so tests and driver queries
synthesize deterministic PPM/WAV payloads from document text
(:func:`synthesize_ppm` / :func:`synthesize_wav`) — the data is
synthetic, the decode paths are not.

Scale notes: binary payloads are heavy — keep them out of shuffles
(derive features, then drop the payload before any wide operation), and
bound ``spark.sql.files.maxPartitionBytes`` so a partition of blobs fits
executor memory.  ``mapInPandas`` streams Arrow record batches, so peak
memory is batch-sized, not partition-sized.
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kusuma_metamorph_etl_spark.plans.share import share

FEATURE_SCHEMA = (
    "format string, width int, height int, channels int, "
    "n_bytes long, mean_value double, content_md5 string"
)


def _fan_out(df: DataFrame, heavy: bool = False) -> DataFrame:
    """Normalize partitioning around Arrow codec stages: coalesce
    heavily OVER-split inputs back to the session's default parallelism
    (narrow, no shuffle), and — for ``heavy`` stages only — fan
    UNDER-split inputs up to it (a repartition SHUFFLE of the payload
    bytes).

    Why the ``heavy`` gate: a repartition of payload bytes costs more
    than the single-split codec work it parallelizes for every cheap or
    moderate stage (header parses, PNG/PPM codecs, pHash, Y4M walks), so
    the default skips the fan-up; genuinely CPU-bound codecs (full JPEG
    encode/decode, the QM arithmetic coder) pass ``heavy=True``.  The
    measurements behind the gate are in OPTIMIZATION_r19.md.

    At 100 TB a scan yields thousands of splits, the fan-up is a no-op
    either way, and only the coalesce matters (format-branching unions
    like `mm_transcode` multiply partitions; per-task Python-worker
    overhead then dominates).  The 2× hysteresis keeps the coalesce a
    no-op for healthily-split inputs, where Spark's own split sizing is
    the right answer."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if heavy and n < target:
        return df.repartition(target)
    if n > target * 2:
        return df.coalesce(target)
    return df


def attach_payload(
    df: DataFrame,
    synth: Callable[[str], bytes],
    kind: str,
    text_col: str = "text",
    heavy: bool = False,
) -> DataFrame:
    """Synthesized payload column: ``payload = synth(text)`` through one
    Arrow-batched pandas UDF, tagged ``payload_kind = kind``.  Options of
    a synthesizer ride in with :func:`functools.partial`, e.g.
    ``attach_payload(docs, partial(synthesize_png, interlace=True),
    "image/png")``; ``heavy`` is for CPU-bound synthesizers (JPEG)."""

    def make_payload(texts: pd.Series) -> pd.Series:
        return texts.map(synth)

    # Named after the synthesizer so each one reads apart in a plan.
    make_payload.__name__ = getattr(synth, "func", synth).__name__
    make = F.pandas_udf("binary")(make_payload)
    return (
        _fan_out(df, heavy)
        .withColumn("payload", make(F.col(text_col)))
        .withColumn("payload_kind", F.lit(kind))
    )


def map_payloads(
    df: DataFrame,
    rows_of: Callable[[bytes], list[Any]],
    schema: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    heavy: bool = False,
) -> DataFrame:
    """The one Arrow ``mapInPandas`` over binary payloads: each payload
    becomes ``rows_of(payload)`` — a list of rows, each a tuple in
    ``schema`` order or a dict keyed by ``schema`` names — and its id is
    repeated once per row.  ``schema`` (DDL) lists the columns after the
    id; the id keeps its input name and type, so string record ids work
    as well as ``long`` doc ids.  Only ``(id, payload)`` enter the
    Python boundary; ``heavy`` is the `_fan_out` fan-up for CPU-bound
    row functions."""
    fields = T.StructType.fromDDL(schema)
    names = fields.fieldNames()
    out_schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType), *fields]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            per = [rows_of(p) for p in batch[payload_col]]
            out = pd.DataFrame([r for rows in per for r in rows], columns=names)
            out.insert(
                0, id_col, np.repeat(batch[id_col].values, [len(r) for r in per])
            )
            yield out

    narrow = _fan_out(df.select(id_col, payload_col), heavy)
    return narrow.mapInPandas(run, schema=out_schema)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary column (UTF-8 bytes of the text column —
    the stand-in for an arbitrary media payload) plus typed metadata."""
    return _fan_out(df).withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "payload_kind", F.lit("text/utf-8")
    )


# ------------------------------------------------------------- image codecs


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Binary PPM (P6, HxWx3) / PGM (P5, HxW) encoder.  uint8 input
    writes maxval 255 with one byte per sample; uint16 input writes
    maxval 65535 with two bytes per sample MOST significant first
    (Netpbm spec: "each sample ... two bytes, the most significant
    first" when maxval exceeds 255)."""
    src = np.asarray(pixels)
    wide = src.dtype == np.uint16
    arr = src if wide else np.asarray(src, dtype=np.uint8)
    if arr.ndim == 3 and arr.shape[2] == 3:
        magic = b"P6"
    elif arr.ndim == 2:
        magic = b"P5"
    else:
        raise ValueError(
            f"expected HxW or HxWx3 uint8/uint16 array, got {arr.shape}"
        )
    h, w = arr.shape[:2]
    maxval = 65535 if wide else 255
    body = arr.astype(">u2").tobytes() if wide else arr.tobytes()
    return b"%s\n%d %d\n%d\n" % (magic, w, h, maxval) + body


def _decode_ppm(payload: bytes) -> np.ndarray:
    magic = payload[:2]
    channels = 3 if magic == b"P6" else 1
    # Header: magic, whitespace-separated width/height/maxval ('#' comments
    # allowed per spec), one whitespace byte, then raw samples.
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if not 1 <= maxval <= 65535:
        raise ValueError(f"PPM/PGM maxval {maxval} outside the spec range")
    # Netpbm sample width follows maxval: one byte up to 255, two bytes
    # big-endian above.  Samples
    # present RAW at file depth; no rescaling.
    if maxval > 255:
        data = np.frombuffer(
            payload, dtype=">u2", count=w * h * channels, offset=pos
        ).astype(np.uint16)
    else:
        data = np.frombuffer(
            payload, dtype=np.uint8, count=w * h * channels, offset=pos
        )
    return data.reshape((h, w, 3)) if channels == 3 else data.reshape((h, w))


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Uncompressed 24-bit BMP encoder (BI_RGB, bottom-up rows, BGR,
    rows padded to 4 bytes)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("BMP encoder expects an HxWx3 RGB array")
    h, w = arr.shape[:2]
    row_size = (w * 3 + 3) & ~3
    image_size = row_size * h
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    file_header = struct.pack("<2sIHHI", b"BM", 14 + 40 + image_size, 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, image_size, 2835, 2835, 0, 0
    )
    return file_header + info_header + rows.tobytes()


def _bmp_rle8_indices(data: bytes, w: int, h: int) -> np.ndarray:
    """BI_RLE8 → (h, w) palette indices in STORED row order.  Encoded
    runs, absolute mode (word-aligned), end-of-line (0,0), end-of-bitmap
    (0,1), and delta (0,2,dx,dy) escapes per the BMP spec; pixels a delta
    skips are left 0 (the spec leaves them undefined)."""
    out = np.zeros((h, w), np.uint8)
    x = y = i = 0
    while i + 1 < len(data):
        n, v = data[i], data[i + 1]
        i += 2
        if n:  # encoded run: n copies of v
            if y >= h or x + n > w:
                raise ValueError("RLE8 run overruns the bitmap")
            out[y, x : x + n] = v
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return out
        elif v == 2:  # delta: move right dx, up-stored dy
            x += data[i]
            y += data[i + 1]
            i += 2
        else:  # absolute mode: v literal indices, padded to a word
            if y >= h or x + v > w or i + v > len(data):
                raise ValueError("RLE8 absolute run overruns the bitmap")
            out[y, x : x + v] = np.frombuffer(data, np.uint8, count=v, offset=i)
            x += v
            i += v + (v & 1)
    raise ValueError("RLE8 stream missing end-of-bitmap escape")


def _decode_bmp(payload: bytes) -> np.ndarray:
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size, w, h = struct.unpack_from("<Iii", payload, 14)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if header_size >= 40 and bpp == 8 and compression in (0, 1):
        # Palettized 8-bit, uncompressed (BI_RGB) or BI_RLE8:
        # biClrUsed BGRX entries follow the info header (0 → 256).
        bottom_up = h > 0
        h = abs(h)
        clr_used = struct.unpack_from("<I", payload, 46)[0] or 256
        pal = np.frombuffer(
            payload, np.uint8, count=clr_used * 4, offset=14 + header_size
        ).reshape(-1, 4)[:, 2::-1]  # BGRX → RGB
        if compression == 0:
            row_size = (w + 3) & ~3
            idx = np.frombuffer(
                payload, np.uint8, count=row_size * h, offset=data_offset
            ).reshape(h, row_size)[:, :w]
        else:
            idx = _bmp_rle8_indices(payload[data_offset:], w, h)
        arr = pal[idx]
        return arr[::-1] if bottom_up else arr
    if header_size < 40 or bpp not in (24, 32) or compression != 0:
        raise NotImplementedError(
            "only uncompressed 8/24/32-bit and RLE8 BMP supported"
        )
    bottom_up = h > 0
    h = abs(h)
    ch = bpp // 8
    row_size = (w * ch + 3) & ~3  # 32-bit rows are already 4-aligned
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_size * h, offset=data_offset
    ).reshape(h, row_size)
    # 24-bit: BGR → RGB.  32-bit BI_RGB: the fourth byte is the
    # spec's "reserved" pad under BITMAPINFOHEADER, dropped like every
    # mainstream decoder does — BGRX → RGB.
    arr = rows[:, : w * ch].reshape(h, w, ch)[:, :, 2::-1]
    return arr[::-1] if bottom_up else arr


# ------------------------------------------------------------------ PNG
# Stdlib-only codec: zlib inflate + numpy scanline unfilter.  Scope:
# 1/2/4/8/16-bit greyscale, 8/16-bit RGB(A), 1/2/4/8-bit palette —
# every legal IHDR depth×color combination the spec names for those
# types — non-interlaced AND Adam7-interlaced (RFC 2083 §2.6), in every
# combination including interlaced sub-byte (per-pass bit packing at
# the reduced width).  Genuinely exotic variants raise through the
# injectable-decoder seam.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → samples/pixel
_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels → color type

# Adam7 pass grid (RFC 2083 §2.6): (row start, col start, row step,
# col step) per pass.  A pass whose sub-image is empty for the given
# dimensions contributes NO bytes to the stream — not even filter bytes.
_ADAM7 = (
    (0, 0, 8, 8),
    (0, 4, 8, 8),
    (4, 0, 8, 4),
    (0, 2, 4, 4),
    (2, 0, 4, 2),
    (0, 1, 2, 2),
    (1, 0, 2, 1),
)


def _adam7_dims(w: int, h: int) -> list[tuple[int, int, int, int, int, int]]:
    """Per-pass (r0, c0, rs, cs, pass_w, pass_h) for a WxH image; empty
    passes (pass_w or pass_h == 0) are kept so byte accounting stays
    positional."""
    out = []
    for r0, c0, rs, cs in _ADAM7:
        pw = max(0, (w - c0 + cs - 1) // cs)
        ph = max(0, (h - r0 + rs - 1) // rs)
        out.append((r0, c0, rs, cs, pw, ph))
    return out


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(
    pixels: np.ndarray, interlace: bool = False, depth: int | None = None
) -> bytes:
    """PNG encoder (greyscale HxW, grey+alpha HxWx2, RGB HxWx3, RGBA
    HxWx4), sequential or Adam7-interlaced.  Sample depth follows the
    input dtype: uint8 arrays emit bit depth 8, uint16 arrays bit depth
    16 (big-endian sample bytes per PNG spec 7.1); an EXPLICIT ``depth``
    of 8/16 overrides the dtype — uint8 samples widen value-preserving
    to 16-bit, uint16 samples narrow to 8-bit only when every value
    fits (ValueError otherwise).  ``depth`` of 1/2/4 forces sub-byte
    greyscale (HxW input whose samples already fit the depth; scanlines
    pack MSB-first per spec 7.2, sequential or Adam7 — interlaced
    passes pack independently at the reduced width).
    Scanlines use filter type 0 — zlib does the compressing; filter
    search is a size optimization, not a correctness requirement.  With
    ``interlace`` the IDAT stream is the RFC 2083 §2.6 pass
    concatenation: each pass is an independent sub-image with its own
    filter byte per reduced scanline, and empty passes are wholly
    absent."""
    src = np.asarray(pixels)
    if depth in (1, 2, 4):
        if src.ndim != 2:
            raise ValueError(
                f"sub-byte PNG is greyscale-only: expected HxW, got {src.shape}"
            )
        samples = np.asarray(src, dtype=np.uint8)
        if int(samples.max(initial=0)) >= (1 << depth):
            raise ValueError(
                f"sample values exceed {depth}-bit range (max {(1 << depth) - 1})"
            )
        h, w = samples.shape
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, int(interlace))
        idat = zlib.compress(
            _png_subbyte_scanline_bytes(samples, depth, interlace), 6
        )
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b"")
        )
    if depth is not None and depth not in (8, 16):
        raise ValueError(f"unsupported PNG bit depth {depth}")
    if depth is None:
        depth = 16 if src.dtype == np.uint16 else 8
    # honor an EXPLICIT depth (not re-derived from dtype): uint8 →
    # depth 16 widens value-preserving; uint16 → depth 8 narrows only if
    # every sample already fits.
    if depth == 16:
        arr = np.asarray(src, dtype=np.uint16)
    else:
        if src.dtype == np.uint16 and int(src.max(initial=0)) > 255:
            raise ValueError(
                "depth=8 requested but uint16 samples exceed 255 — "
                "rescale before encoding"
            )
        arr = np.asarray(src, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in _PNG_COLOR_TYPE:
        raise ValueError(
            f"expected HxW or HxWx{{2,3,4}} uint8/uint16 array, got {arr.shape}"
        )
    h, w, channels = arr.shape
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, _PNG_COLOR_TYPE[channels], 0, 0, int(interlace)
    )
    if depth == 16:
        # big-endian byte split: each pixel becomes channels*2 contiguous
        # bytes, so the 8-bit scanline/Adam7 machinery stays pixel-exact
        arr = (
            arr.astype(">u2").view(np.uint8).reshape(h, w, channels * 2)
        )
    idat = zlib.compress(_png_scanline_bytes(arr, interlace), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _png_scanline_bytes(planes: np.ndarray, interlace: bool) -> bytes:
    """Serialize an HxWxC uint8 sample array into the PNG raw scanline
    stream (filter byte 0 per reduced scanline), sequential or Adam7."""
    h, w, channels = planes.shape
    if interlace:
        parts = []
        for r0, c0, rs, cs, pw, ph in _adam7_dims(w, h):
            if pw == 0 or ph == 0:
                continue
            sub = planes[r0::rs, c0::cs]
            rows = np.zeros((ph, 1 + pw * channels), dtype=np.uint8)
            rows[:, 1:] = sub.reshape(ph, pw * channels)
            parts.append(rows.tobytes())
        return b"".join(parts)
    raw = np.zeros((h, 1 + w * channels), dtype=np.uint8)
    raw[:, 1:] = planes.reshape(h, w * channels)
    return raw.tobytes()


def encode_png_palette(
    pixels: np.ndarray,
    interlace: bool = False,
    trns: np.ndarray | None = None,
    depth: int | None = None,
) -> bytes:
    """Indexed-color (type 3) PNG encoder for palette-expressible images
    (≤256 distinct colors — same contract as :func:`encode_gif`:
    quantization is out of scope, a richer image raises instead of
    silently posterizing).  Greyscale expands to RGB.  Deterministic:
    the PLTE is the lexicographically-sorted distinct-color list.

    ``trns`` emits a tRNS transparency chunk: per-PALETTE-ENTRY alpha
    bytes (PNG spec 11.3.2.1), at most one per palette entry — a
    SHORTER array is legal and means the remaining entries are fully
    opaque (the decoder pads with 255), which is exactly the seam the
    `mm_png_trns` gate exercises.

    ``depth`` of 1/2/4 packs the index plane at that bit depth (the
    palette must fit in 2**depth entries; MSB-first per spec 7.2,
    sequential or Adam7-interlaced)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected HxW or HxWx3 uint8 array, got {arr.shape}")
    h, w, _ = arr.shape
    flat = arr.reshape(-1, 3)
    colors = np.unique(flat, axis=0)
    if len(colors) > 256:
        raise ValueError(
            f"palette PNG needs <=256 distinct colors; image has "
            f"{len(colors)} (quantize first)"
        )
    lut = {tuple(c): i for i, c in enumerate(map(tuple, colors))}
    idx = np.fromiter(
        (lut[tuple(px)] for px in map(tuple, flat)), dtype=np.uint8, count=h * w
    ).reshape(h, w, 1)
    if depth in (1, 2, 4):
        if len(colors) > (1 << depth):
            raise ValueError(
                f"{len(colors)}-color palette does not fit bit depth {depth}"
            )
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, int(interlace))
        idat = zlib.compress(
            _png_subbyte_scanline_bytes(idx[:, :, 0], depth, interlace), 6
        )
    elif depth not in (None, 8):
        raise ValueError(f"unsupported palette PNG bit depth {depth}")
    else:
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, int(interlace))
        idat = zlib.compress(_png_scanline_bytes(idx, interlace), 6)
    trns_chunk = b""
    if trns is not None:
        alphas = np.asarray(trns, dtype=np.uint8).ravel()
        if alphas.size > len(colors):
            raise ValueError(
                f"tRNS has {alphas.size} entries for a {len(colors)}-color "
                "palette"
            )
        trns_chunk = _png_chunk(b"tRNS", alphas.tobytes())
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", colors.tobytes())
        + trns_chunk
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _png_subbyte_scanline_bytes(
    samples: np.ndarray, depth: int, interlace: bool
) -> bytes:
    """Raw (pre-zlib) scanline stream for an h×w sample plane at bit
    depth 1/2/4: filter byte 0 + MSB-first packed samples per scanline.
    With ``interlace`` the stream is the Adam7 pass concatenation, each
    pass packed INDEPENDENTLY — rows pad to a byte boundary at the
    REDUCED (pass) width, not the image width (PNG spec 8.2), which is
    the per-pass bit-packing the sequential-only encoder used to raise
    on."""
    def rows_bytes(plane: np.ndarray) -> bytes:
        packed = _png_pack_rows(plane, depth)
        rows = np.zeros((plane.shape[0], 1 + packed.shape[1]), dtype=np.uint8)
        rows[:, 1:] = packed
        return rows.tobytes()

    if not interlace:
        return rows_bytes(samples)
    h, w = samples.shape
    parts = []
    for r0, c0, rs, cs, pw, ph in _adam7_dims(w, h):
        if pw == 0 or ph == 0:
            continue
        parts.append(rows_bytes(samples[r0::rs, c0::cs]))
    return b"".join(parts)


def _png_pack_rows(values: np.ndarray, depth: int) -> np.ndarray:
    """Pack an h×w sample array (each value < 2**depth) into PNG
    sub-byte scanline bytes: samples MSB-first within each byte, rows
    padded to a byte boundary (PNG spec 7.2)."""
    h, w = values.shape
    shifts = np.arange(depth - 1, -1, -1, dtype=np.uint8)
    bits = ((values[:, :, None].astype(np.uint8) >> shifts) & 1).reshape(
        h, w * depth
    )
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.pad(bits, ((0, 0), (0, pad)))
    return np.packbits(bits, axis=1)


def _png_unpack_rows(packed: np.ndarray, w: int, depth: int) -> np.ndarray:
    """Inverse of :func:`_png_pack_rows`: h×row_bytes packed scanlines →
    h×w raw samples (0..2**depth-1), discarding row padding bits."""
    bits = np.unpackbits(packed, axis=1)[:, : w * depth]
    h = packed.shape[0]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    return (
        (bits.reshape(h, w, depth) * weights).sum(axis=2).astype(np.uint8)
    )


def _png_unfilter_row(
    ftype: int, line: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Reconstruct one scanline (int32 in, mod-256 out) per RFC 2083 §6."""
    stride = line.shape[0]
    if ftype == 0:  # None
        return line % 256
    if ftype == 1:  # Sub: recon[x] = line[x] + recon[x-bpp] — a per-lane
        # prefix sum: mod distributes over +, so cumsum-then-mod is exact.
        return (line.reshape(-1, bpp).cumsum(axis=0) % 256).reshape(stride)
    if ftype == 2:  # Up
        return (line + prev) % 256
    rec = np.zeros(stride, dtype=np.int32)
    if ftype == 3:  # Average — left-neighbor dependency is sequential
        for x in range(stride):
            left = rec[x - bpp] if x >= bpp else 0
            rec[x] = (line[x] + (left + prev[x]) // 2) % 256
        return rec
    if ftype == 4:  # Paeth
        for x in range(stride):
            a = rec[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            rec[x] = (line[x] + pred) % 256
        return rec
    raise NotImplementedError(f"PNG filter type {ftype}")


def _decode_png(payload: bytes) -> np.ndarray:
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, plte, trns = 8, None, [], None, None
    while pos + 8 <= len(payload):
        size = struct.unpack_from(">I", payload, pos)[0]
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":  # image data may span many chunks
            idat.append(body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"tRNS":
            trns = body
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or not idat:
        raise ValueError("PNG payload missing IHDR/IDAT chunk")
    w, h, depth, color, _comp, _filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if (
        depth not in (1, 2, 4, 8, 16)
        or (color not in _PNG_CHANNELS and color != 3)
        or interlace not in (0, 1)
    ):
        raise NotImplementedError(
            "only 1/2/4/8/16-bit greyscale, 8/16-bit RGB(A), and "
            "1/2/4/8-bit palette PNG supported; exotic variants need a "
            "codec injected via extract_binary_features(decoder=...)"
        )
    if depth < 8 and color not in (0, 3):
        # sub-byte depths are legal for greyscale/palette only
        # (PNG spec 11.2.2 table 11.1)
        raise ValueError(
            f"bit depth {depth} is invalid for PNG color type {color}"
        )
    if depth == 16 and color == 3:
        # palette bit depths are 1/2/4/8 only (PNG spec 11.2.2)
        raise ValueError("16-bit sample depth is invalid for palette PNG")
    if trns is not None and color not in (0, 2, 3):
        # types 4/6 already carry a full alpha channel; the spec forbids
        # tRNS there (PNG spec 11.3.2.1) — a payload that has both is
        # malformed, not a seam.
        raise ValueError(f"tRNS is invalid for PNG color type {color}")
    if color == 3 and (plte is None or len(plte) % 3):
        raise ValueError("palette PNG missing or malformed PLTE chunk")
    # palette scanlines carry one INDEX byte per pixel; map after unfilter
    channels = 1 if color == 3 else _PNG_CHANNELS[color]
    # filtering operates on BYTES: at depth 16 each pixel is channels*2
    # bytes, and at sub-byte depths a scanline is ceil(w·depth/8) packed
    # bytes with the filter's left-neighbor distance clamped to 1 byte
    # (PNG spec 7.2/9.2), so the byte-plane machinery is depth-agnostic
    byte_ch = max(1, channels * (depth // 8))
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if interlace:
        arr = _png_deinterlace(raw, w, h, byte_ch, depth)
        if byte_ch == 1:
            arr = arr.reshape(h, w, 1)
    else:
        stride = w * byte_ch if depth >= 8 else (w * depth + 7) // 8
        if raw.size != h * (1 + stride):
            raise ValueError("PNG data size does not match IHDR dimensions")
        raw = raw.reshape(h, 1 + stride)
        out = np.zeros((h, stride), dtype=np.int32)
        for y in range(h):
            prev = out[y - 1] if y else np.zeros(stride, dtype=np.int32)
            out[y] = _png_unfilter_row(
                int(raw[y, 0]), raw[y, 1:].astype(np.int32), prev, byte_ch
            )
        if depth < 8:
            # unpack MSB-first bit groups into raw samples 0..2**depth-1
            arr = _png_unpack_rows(out.astype(np.uint8), w, depth)[
                :, :, None
            ]
        else:
            arr = out.astype(np.uint8).reshape(h, w, byte_ch)
    if depth == 16:
        # recombine big-endian byte pairs into uint16 samples
        pairs = arr.reshape(h, w, channels, 2).astype(np.uint16)
        arr = (pairs[..., 0] << 8) | pairs[..., 1]
    arr = arr[:, :, 0] if channels == 1 else arr
    opaque = 65535 if depth == 16 else 255
    if color != 3:
        # sub-byte greyscale presents at 8 bits: max sample → 255
        # (exact integer scaling, PNG spec 13.12's linear expansion)
        scale = np.uint8(255 // ((1 << depth) - 1)) if depth < 8 else None
        if trns is None:
            return arr * scale if scale is not None else arr
        # transparent-COLOR-key transparency (PNG spec 11.3.2.2/.3):
        # 16-bit key values AT THE IMAGE'S DEPTH; at depth 8 a conforming
        # encoder zeroes the high byte.  A key component outside the
        # sample range (> 255 at depth 8, > 2**depth-1 below it) can
        # match no pixel — the image decodes all-opaque rather than
        # aliasing onto a masked value.  The key compares against the
        # RAW samples (pre-scaling); matching pixels get alpha 0,
        # everything else fully opaque at the presentation depth.
        if color == 0:
            if len(trns) < 2:
                raise ValueError("malformed tRNS for greyscale PNG")
            key = struct.unpack(">H", trns[:2])[0]
            alpha = np.where(arr == key, 0, opaque).astype(arr.dtype)
            grey = arr * scale if scale is not None else arr
            return np.dstack([grey, alpha])  # h x w x 2 grey+alpha
        if len(trns) < 6:
            raise ValueError("malformed tRNS for RGB PNG")
        key_rgb = np.array(struct.unpack(">HHH", trns[:6]), dtype=np.int32)
        matches = (arr.astype(np.int32) == key_rgb).all(axis=2)
        alpha = np.where(matches, 0, opaque).astype(arr.dtype)
        return np.dstack([arr, alpha])  # h x w x 4 RGBA
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    idx = arr  # h x w index plane
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("palette PNG index exceeds PLTE size")
    if trns is None:
        return pal[idx]
    # palette alpha (PNG spec 11.3.2.1): one alpha byte per entry, a
    # short chunk leaves the remaining entries fully opaque
    alut = np.full(pal.shape[0], 255, dtype=np.uint8)
    alphas = np.frombuffer(trns, dtype=np.uint8)
    if alphas.size > pal.shape[0]:
        raise ValueError("tRNS longer than PLTE")
    alut[: alphas.size] = alphas
    return np.dstack([pal[idx], alut[idx]])  # h x w x 4 RGBA


def _png_deinterlace(
    raw: np.ndarray, w: int, h: int, channels: int, depth: int = 8
) -> np.ndarray:
    """Adam7 reassembly (RFC 2083 §2.6): the inflated stream is seven
    pass sub-images back to back, each filtered INDEPENDENTLY (filter
    bytes and prior-scanline references stay inside the pass), scattered
    onto the (row, col) grid of its pass pattern.

    ``depth`` < 8 (greyscale/palette sub-byte, channels == 1): each
    reduced scanline is ``ceil(pass_w·depth/8)`` PACKED bytes — rows pad
    to a byte boundary at the PASS width, not the image width (PNG spec
    8.2: every pass is its own reduced image) — filtered with the
    left-neighbor distance clamped to one byte (spec 9.2), and unpacks
    to pass_w samples before scattering."""
    img = np.zeros((h, w, channels), dtype=np.uint8)
    pos = 0
    for r0, c0, rs, cs, pw, ph in _adam7_dims(w, h):
        if pw == 0 or ph == 0:
            continue
        stride = pw * channels if depth >= 8 else (pw * depth + 7) // 8
        need = ph * (1 + stride)
        if pos + need > raw.size:
            raise ValueError("Adam7 PNG data shorter than pass layout")
        rows = raw[pos : pos + need].reshape(ph, 1 + stride)
        pos += need
        sub = np.zeros((ph, stride), dtype=np.int32)
        for y in range(ph):
            prev = sub[y - 1] if y else np.zeros(stride, dtype=np.int32)
            sub[y] = _png_unfilter_row(
                int(rows[y, 0]), rows[y, 1:].astype(np.int32), prev, channels
            )
        if depth < 8:
            img[r0::rs, c0::cs, 0] = _png_unpack_rows(
                sub.astype(np.uint8), pw, depth
            )
        else:
            img[r0::rs, c0::cs] = sub.astype(np.uint8).reshape(
                ph, pw, channels
            )
    if pos != raw.size:
        raise ValueError("Adam7 PNG data longer than pass layout")
    return img[:, :, 0] if channels == 1 else img


# every shipped format now decodes for real; the dict stays as the seam
# for genuinely external codecs (HEIC, AVIF, ...)
_COMPRESSED_MAGICS: dict[bytes, str] = {}


def decode_image(payload: bytes) -> dict[str, Any]:
    """Decode a binary image payload → ``{format, width, height, channels,
    pixels}`` with ``pixels`` a uint8 numpy array.

    Real pure-numpy decode for PPM/PGM, BMP (24/32-bit, palettized,
    RLE8), PNG —
    8-bit greyscale/RGB(A)/palette plus 16-bit greyscale/RGB(A)
    (big-endian sample recombination, ``pixels`` dtype uint16),
    sequential AND Adam7-interlaced (stdlib zlib inflate + scanline
    unfilter + pass reassembly + PLTE lookup),
    GIF87a/89a (real variable-width LZW, global/local palettes,
    sequential and four-pass interlaced frames), and
    JPEG — baseline sequential (any integer-ratio subsampling),
    progressive SOF2, lossless SOF3, and arithmetic SOF9/SOF10
    (file-read tables, dequantize + IDCT — `operators/jpeg.py`;
    arithmetic-lossless/hierarchical variants raise through the
    same seam).  Anything unrecognized raises ``ValueError``;
    genuinely external codecs inject via
    ``extract_binary_features(decoder=...)``.

    Strictness note: a tRNS chunk on PNG color types 4/6 (which already
    carry a full alpha channel) is rejected as malformed (``ValueError``,
    PNG spec 11.3.2.1).  libpng-style decoders commonly ignore the stray
    chunk instead; callers needing that leniency should inject a decoder
    via ``extract_binary_features(decoder=...)``.
    """
    if payload[:2] in (b"P6", b"P5"):
        pixels = _decode_ppm(payload)
        fmt = "ppm" if payload[:2] == b"P6" else "pgm"
    elif payload[:2] == b"BM":
        pixels = _decode_bmp(payload)
        fmt = "bmp"
    elif payload[:8] == _PNG_SIG:
        pixels = _decode_png(payload)
        fmt = "png"
    elif payload[:6] in _GIF_HEADERS:
        pixels = _decode_gif(payload)
        fmt = "gif"
    elif payload[:3] == b"\xff\xd8\xff":
        from kusuma_metamorph_etl_spark.operators.jpeg import decode_jpeg

        pixels = decode_jpeg(payload)
        fmt = "jpeg"
    else:
        for magic, name in _COMPRESSED_MAGICS.items():
            if payload[: len(magic)] == magic:
                raise NotImplementedError(
                    f"{name} decode requires a codec not present in this "
                    "container; inject one via "
                    "extract_binary_features(decoder=...)"
                )
        raise ValueError("unrecognized image payload (not PPM/PGM/BMP/PNG)")
    channels = 1 if pixels.ndim == 2 else pixels.shape[2]
    return {
        "format": fmt,
        "width": pixels.shape[1],
        "height": pixels.shape[0],
        "channels": channels,
        "pixels": pixels,
    }


def image_features(payload: bytes) -> dict[str, Any]:
    """Default feature extractor: real decode + summary stats."""
    img = decode_image(payload)
    return {
        "format": img["format"],
        "width": img["width"],
        "height": img["height"],
        "channels": img["channels"],
        "n_bytes": len(payload),
        "mean_value": float(img["pixels"].mean()),
        "content_md5": hashlib.md5(payload).hexdigest(),
    }


PIXEL_MD5_SCHEMA = (
    "format string, width int, height int, channels int, pixel_md5 string"
)


def pixel_md5_features(payload: bytes) -> dict[str, Any]:
    """Feature extractor gating on the DECODED pixels, not the payload:
    md5 over the raw pixel array bytes.  Unlike ``mean_value`` this is
    sensitive to row order (a wrong interlace pass permutes rows but
    preserves every rank statistic), so codec rows whose failure mode is
    a reordering — interlaced GIF/PNG — gate on it."""
    img = decode_image(payload)
    return {
        "format": img["format"],
        "width": img["width"],
        "height": img["height"],
        "channels": img["channels"],
        "pixel_md5": hashlib.md5(
            np.ascontiguousarray(img["pixels"]).tobytes()
        ).hexdigest(),
    }


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Real nearest-neighbor resize: decode, resample with numpy index
    arithmetic, re-encode in the source format (shared ``_encode_as``
    dispatch — a local bmp/png if-chain here predated GIF/JPEG support
    and silently re-encoded those as PPM, breaking every downstream
    format sniffer)."""
    img = decode_image(payload)
    pixels = img["pixels"]
    src_h, src_w = pixels.shape[:2]
    rows = np.minimum((np.arange(height) * src_h) // height, src_h - 1)
    cols = np.minimum((np.arange(width) * src_w) // width, src_w - 1)
    resized = pixels[rows][:, cols]
    return _encode_as(resized, img["format"])


def _synthesize_pixels(text: str) -> np.ndarray:
    """Deterministic RGB pixel array from document text: dimensions from
    the byte length, pixels from the repeated md5 digest — the shared
    contract behind :func:`synthesize_ppm` and :func:`synthesize_png`
    (identical pixels, so cross-format decode must agree)."""
    raw = text.encode("utf-8")
    w = 4 + len(raw) % 5
    h = 4 + (7 * len(raw)) % 5
    digest = hashlib.md5(raw).digest()
    need = w * h * 3
    return np.frombuffer(
        (digest * (need // len(digest) + 1))[:need], dtype=np.uint8
    ).reshape(h, w, 3)


def synthesize_ppm(text: str) -> bytes:
    """Deterministic synthetic P6 payload derived from document text — the
    container has no real image data, so tests and driver queries
    manufacture one per document (:func:`_synthesize_pixels`).
    Oracle-reproducible: n_bytes = 9 + len(str(w)) + len(str(h)) + w*h*3."""
    return encode_ppm(_synthesize_pixels(text))


def synthesize_png(
    text: str,
    interlace: bool = False,
    palette: bool = False,
    trns: bool = False,
    depth16: bool = False,
) -> bytes:
    """Deterministic synthetic PNG payload — same pixel contract as
    :func:`synthesize_ppm`, so the PNG inflate+unfilter path must decode to
    the exact pixels the PPM path yields (the `mm_png_features` gate).
    ``interlace`` emits the Adam7 layout (the `mm_png_interlaced` gate);
    ``palette`` emits indexed color type 3 (the repeated-digest pixels
    have ≤48 distinct colors, so they are always palette-expressible —
    the `mm_png_palette` gate).

    ``trns`` (palette only) attaches a HALF-LENGTH all-opaque tRNS
    chunk: alpha bytes of 255 for the first half of the palette, the
    rest left to the decoder's mandatory pad-to-255 — so the decode must
    parse the chunk, pad it, and assemble RGBA, and the resulting mean
    is exactly ``(3·rgb_mean + 255) / 4``, which the `mm_png_trns` gate
    pins against the PPM twin without needing alpha in the oracle.
    Varied per-entry alphas are pinned exactly in pytest
    (tests/test_multimodal.py).

    ``depth16`` emits bit depth 16 with each 8-bit sample expanded by
    ×257 (``x*257 == x<<8 | x``, the PNG-recommended scaling) — so the
    decoded uint16 mean is EXACTLY 257× the PPM twin's mean, which the
    `mm_png_16bit` gate pins without a 16-bit oracle."""
    px = _synthesize_pixels(text)
    if trns:
        if not palette:
            raise ValueError("trns synthesis requires palette=True")
        n_colors = len(np.unique(px.reshape(-1, 3), axis=0))
        alphas = np.full(max(1, n_colors // 2), 255, dtype=np.uint8)
        return encode_png_palette(px, interlace=interlace, trns=alphas)
    if palette:
        return encode_png_palette(px, interlace=interlace)
    if depth16:
        return encode_png(px.astype(np.uint16) * 257, interlace=interlace)
    return encode_png(px, interlace=interlace)


def _subbyte_depth_for(text: str) -> int:
    """Deterministic per-document sub-byte depth ∈ {1, 2, 4} so one
    driver row exercises all three packings."""
    return (1, 2, 4)[len(text.encode()) % 3]


def synthesize_png_subbyte(text: str, interlace: bool = False) -> bytes:
    """Deterministic sub-byte greyscale PNG payload: the synthetic
    pixels' red plane quantized to a per-document depth (1/2/4 bits,
    top bits kept) and packed MSB-first.  Its lossless twin is
    :func:`synthesize_pgm_quantized` — the SAME quantized samples
    presented at 8 bits — so the decoded pixel arrays must be
    byte-identical (the `mm_png_subbyte` gate).  With ``interlace`` the
    payload is the Adam7 stream with every pass packed at its reduced
    width (the `mm_png_subbyte_interlaced` gate)."""
    px = _synthesize_pixels(text)
    depth = _subbyte_depth_for(text)
    samples = (px[:, :, 0] >> (8 - depth)).astype(np.uint8)
    return encode_png(samples, depth=depth, interlace=interlace)


def synthesize_pgm_quantized(text: str) -> bytes:
    """The 8-bit P5 twin of :func:`synthesize_png_subbyte`: identical
    quantized samples scaled by the exact sub-byte presentation factor
    (255 // (2**depth - 1))."""
    px = _synthesize_pixels(text)
    depth = _subbyte_depth_for(text)
    samples = (px[:, :, 0] >> (8 - depth)).astype(np.uint8)
    return encode_ppm(samples * np.uint8(255 // ((1 << depth) - 1)))


FAKE_FEATURE_SCHEMA = "n_bytes long, header_hex string, content_md5 string"


def fake_decode(payload: bytes) -> dict[str, Any]:
    """Deterministic byte-level 'decoder' for arbitrary (non-image)
    payloads: header peek + digest.  Pairs with ``FAKE_FEATURE_SCHEMA``."""
    return {
        "n_bytes": len(payload),
        "header_hex": payload[:4].hex(),
        "content_md5": hashlib.md5(payload).hexdigest(),
    }


def extract_binary_features(
    df: DataFrame,
    decoder: Callable[[bytes], dict[str, Any]] = image_features,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    schema: str = FEATURE_SCHEMA,
    heavy: bool = False,
) -> DataFrame:
    """One feature row per payload: ``decoder(payload)`` keyed by the
    ``schema`` names (the columns after the id).  The payload is dropped
    from the output so downstream shuffles never carry blobs.
    ``heavy=True`` is for genuinely CPU-bound decoders (full JPEG
    Huffman+IDCT); header-grade PPM/PNG decodes run faster without it."""
    return map_payloads(
        df, lambda p: [decoder(p)], schema, id_col, payload_col, heavy
    )


RESIZE_SCHEMA = "payload binary, width int, height int, payload_kind string"


def resize(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Nearest-neighbor resize of every image payload (:func:`resize_image`,
    re-encoded in its source format), with the new dimensions as typed
    metadata."""
    def rows_of(payload: bytes) -> list[tuple]:
        return [(resize_image(payload, width, height), width, height, "image/resized")]

    return map_payloads(df, rows_of, RESIZE_SCHEMA, id_col, payload_col)


def sample_frames(
    df: DataFrame,
    every_n_bytes: int = 64,
    max_frames: int = 8,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """'Frame sampling' over a binary payload — takes a byte-slice every
    ``every_n_bytes`` as the stand-in for video frame extraction.  Pure
    column expressions (substring on binary), one row per sampled frame.

    Index bound is ``floor((len-1)/n)`` — ``floor(len/n)`` is off by one
    when the payload length is an exact multiple and emits a phantom
    zero-length frame starting one byte past the end;
    greatest(...,0) keeps the empty payload at one (empty) frame rather
    than a descending sequence."""
    frames = F.transform(
        F.sequence(
            F.lit(0),
            F.least(
                F.greatest(
                    F.floor(
                        (F.length(F.col(payload_col)) - 1) / every_n_bytes
                    ).cast("int"),
                    F.lit(0),
                ),
                F.lit(max_frames - 1),
            ),
        ),
        lambda i: F.struct(
            i.alias("frame_idx"),
            F.substring(F.col(payload_col), i * every_n_bytes + 1, 8).alias(
                "frame_bytes"
            ),
        ),
    )
    return df.select(F.col(id_col), F.explode(frames).alias("f")).select(
        id_col, "f.frame_idx", "f.frame_bytes"
    )


# ------------------------------------------------------------- video codec
# YUV4MPEG2 (.y4m): the standard UNCOMPRESSED video container (mjpegtools
# lineage; ffmpeg's raw-video interchange format) — a text header line,
# then per frame a FRAME marker + raw planes.  Real parsing, no codec
# library: supported colorspaces are Cmono (luma only), C444, C422,
# C420, C411 at 8-bit plus the depth-extended tags (C420p10/p12/…,
# Cmono10/12/16 — two bytes per sample little-endian, values raw at
# file depth like 16-bit PNG / 12-bit JPEG) (planes returned as stored;
# no chroma upsampling — that is a consumer choice, not a decode step).
# Compressed video (H.26x, VP9, AV1) is out of scope: a native decoder
# composes with `video_frame_rows` through `map_payloads`.

_Y4M_MAGIC = b"YUV4MPEG2 "


def _y4m_depth(colorspace: str) -> int:
    """Sample bit depth a Y4M colorspace tag declares: ``C420p10`` /
    ``C422p12`` / ``C444p16`` carry a ``p<depth>`` suffix, deep mono is
    ``Cmono<depth>`` with NO 'p' (ffmpeg emits Cmono9/10/12/16; read as
    8-bit they die later on a misleading FRAME-marker error).
    ``C420paldv`` matches neither ('paldv' is chroma siting, not depth).
    Anything undeclared is 8-bit per the spec."""
    m = re.search(r"p(\d+)$", colorspace)
    if m:
        return int(m.group(1))
    m = re.fullmatch(r"mono(\d+)", colorspace)
    if m:
        return int(m.group(1))
    return 8


def encode_y4m(
    frames: np.ndarray,
    fps: tuple[int, int] = (25, 1),
    colorspace: str = "mono",
    depth: int = 8,
) -> bytes:
    """Y4M encoder for ``(n_frames, h, w)`` luma (Cmono) or
    ``(n_frames, 3, h, w)`` planar YUV (C444) arrays — uint8 at depth 8,
    uint16 little-endian at depths 9–16 (``Cmono<d>`` / ``C444p<d>``
    depth-extended tags, the ffmpeg convention)."""
    if not 8 <= depth <= 16:
        raise ValueError(f"Y4M depth {depth} out of range (8..16)")
    dtype = np.uint8 if depth == 8 else np.uint16
    arr = np.asarray(frames, dtype=dtype)
    if depth > 8 and arr.size and int(arr.max()) >> depth:
        raise ValueError(f"sample values exceed {depth}-bit range")
    if colorspace == "mono":
        if arr.ndim != 3:
            raise ValueError("mono expects (n_frames, h, w)")
        n, h, w = arr.shape
        planes = arr.reshape(n, h * w)
        tag = b"Cmono" if depth == 8 else b"Cmono%d" % depth
    elif colorspace == "444":
        if arr.ndim != 4 or arr.shape[1] != 3:
            raise ValueError("444 expects (n_frames, 3, h, w)")
        n, _, h, w = arr.shape
        planes = arr.reshape(n, 3 * h * w)
        tag = b"C444" if depth == 8 else b"C444p%d" % depth
    else:
        raise ValueError(f"unsupported encoder colorspace {colorspace!r}")
    if depth > 8:
        planes = planes.astype("<u2")  # explicit little-endian on disk
    header = _Y4M_MAGIC + b"W%d H%d F%d:%d Ip A1:1 %s\n" % (
        w, h, fps[0], fps[1], tag,
    )
    return header + b"".join(b"FRAME\n" + p.tobytes() for p in planes)


def decode_video(payload: bytes) -> dict[str, Any]:
    """Real Y4M decode → ``{format, width, height, n_frames, fps_num,
    fps_den, colorspace, frames}`` with ``frames`` a list of per-frame
    dicts of planes (``y`` always; ``u``/``v`` for color spaces).

    Walks the stream exactly: header parameters, then per-frame FRAME
    markers (frame-level parameters after the marker are tolerated per
    spec) and fixed-size plane reads.  A plane-size mismatch raises
    ``ValueError`` rather than mis-aligning every subsequent frame.
    """
    if not payload.startswith(_Y4M_MAGIC):
        raise ValueError("unrecognized video payload (not YUV4MPEG2)")
    nl = payload.index(b"\n")
    w = h = None
    fps_num, fps_den = 25, 1
    colorspace = "420jpeg"  # the spec default when no C tag is present
    for param in payload[len(_Y4M_MAGIC) : nl].split():
        tag, val = param[:1], param[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            fps_num, fps_den = (int(x) for x in val.split(b":"))
        elif tag == b"C":
            colorspace = val.decode()
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H")
    depth = _y4m_depth(colorspace)
    if depth > 16:
        raise NotImplementedError(
            f"Y4M colorspace {colorspace!r} declares {depth}-bit samples "
            "(8..16 decode); compose a native decoder with "
            "video_frame_rows through map_payloads"
        )
    if depth < 8:
        # Mirror the encoder's 8..16 range check: a malformed depth tag
        # (e.g. C420p7) must raise, not silently decode as 2-byte
        # little-endian samples.
        raise ValueError(
            f"Y4M colorspace {colorspace!r} declares {depth}-bit samples; "
            "the Y4M bit-depth extension covers 8..16"
        )
    if colorspace.startswith("mono"):
        plane_shapes = [("y", h, w)]
    elif colorspace.startswith("444"):
        plane_shapes = [("y", h, w), ("u", h, w), ("v", h, w)]
    elif colorspace.startswith("422"):
        # 4:2:2 — chroma subsampled horizontally only (full-height planes)
        plane_shapes = [("y", h, w), ("u", h, w // 2), ("v", h, w // 2)]
    elif colorspace.startswith("411"):
        # 4:1:1 — chroma quartered horizontally (DV lineage)
        plane_shapes = [("y", h, w), ("u", h, w // 4), ("v", h, w // 4)]
    elif colorspace.startswith("420"):
        plane_shapes = [("y", h, w), ("u", h // 2, w // 2), ("v", h // 2, w // 2)]
    else:
        raise NotImplementedError(
            f"Y4M colorspace {colorspace!r} not supported "
            "(mono/444/422/420/411 at 8–16 bit decode; compressed video "
            "stays out of scope); compose a native decoder with "
            "video_frame_rows through map_payloads"
        )
    # Depth-extended tags store each sample as two bytes little-endian,
    # values raw at file depth (ffmpeg convention — same presentation
    # rule as 16-bit PNG / 12-bit JPEG: no rescale at decode).
    bps = 1 if depth == 8 else 2
    dtype = np.uint8 if depth == 8 else np.dtype("<u2")
    frames = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        pos = payload.index(b"\n", pos) + 1  # frame params tolerated
        planes: dict[str, Any] = {}
        for name, ph, pw in plane_shapes:
            end = pos + ph * pw * bps
            if end > len(payload):
                raise ValueError("truncated Y4M frame plane")
            planes[name] = np.frombuffer(
                payload, dtype=dtype, count=ph * pw, offset=pos
            ).reshape(ph, pw)
            pos = end
        frames.append(planes)
    return {
        "format": "y4m",
        "width": w,
        "height": h,
        "n_frames": len(frames),
        "fps_num": fps_num,
        "fps_den": fps_den,
        "colorspace": colorspace,
        "depth": depth,
        "frames": frames,
    }


def synthesize_y4m(text: str) -> bytes:
    """Deterministic synthetic mono Y4M from document text: dimensions and
    frame count from the byte length, per-frame luma from the md5 digest
    rotated by the frame index (frames differ, so a frame-boundary bug
    cannot hide).  Oracle-reproducible: w = 8 + len % 5, h = 4 + len % 3,
    n_frames = 2 + len % 4."""
    raw = text.encode("utf-8")
    w = 8 + len(raw) % 5
    h = 4 + len(raw) % 3
    n_frames = 2 + len(raw) % 4
    digest = hashlib.md5(raw).digest()
    need = h * w
    frames = []
    for k in range(n_frames):
        rotated = digest[k % len(digest) :] + digest[: k % len(digest)]
        frames.append(
            np.frombuffer(
                (rotated * (need // len(rotated) + 1))[:need], dtype=np.uint8
            ).reshape(h, w)
        )
    return encode_y4m(np.stack(frames), colorspace="mono")


VIDEO_FRAME_SCHEMA = (
    "frame_idx int, width int, height int, n_frames int, mean_y double"
)


def video_frame_rows(video: dict[str, Any]) -> list[tuple]:
    """One :data:`VIDEO_FRAME_SCHEMA` row per frame of a decoded stream in
    the :func:`decode_video` dict shape — ``frames`` (plane dicts with a
    ``y`` array), ``width``, ``height``, ``n_frames``.  A native decoder
    (ffmpeg/pyav) filling that shape composes with it through
    :func:`map_payloads`."""
    return [
        (k, video["width"], video["height"], video["n_frames"],
         float(planes["y"].mean()))
        for k, planes in enumerate(video["frames"])
    ]


def extract_video_frames(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Real Y4M decode: one output row per FRAME with stream metadata and
    per-frame luma mean — the real-decode replacement for byte-slice
    frame sampling.  Payload dropped from the output."""
    return map_payloads(
        df,
        lambda p: video_frame_rows(decode_video(p)),
        VIDEO_FRAME_SCHEMA,
        id_col,
        payload_col,
    )


# --------------------------------------------------- perceptual image hash

_PHASH_SIZE = 8  # side of the kept low-frequency DCT block
_PHASH_BITS = _PHASH_SIZE**2 - 1  # minus the DC coefficient; fits a signed long


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (``D @ x`` is the 1-D DCT of x)."""
    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    d = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * m + 1) * k / (2 * n))
    d[0] /= np.sqrt(2.0)
    return d


_DCT = _dct_matrix(4 * _PHASH_SIZE)


def phash(payload: bytes) -> int:
    """DCT-based perceptual hash (classic pHash): decode, grayscale,
    nearest-neighbor downsample to a 32×32 square, 2-D DCT-II, keep the
    top-left 8×8 low-frequency block, threshold each coefficient at the
    block median (DC dropped) → 63-bit signature.

    Near-duplicate IMAGES (re-encodes, small edits, resizes) land within
    a few bit flips; unrelated images differ in ~half the bits.  Pure
    numpy — the DCT is two matmuls against a precomputed basis.
    """
    img = decode_image(payload)
    px = img["pixels"].astype(np.float64)
    if px.ndim == 3:
        px = px.mean(axis=2)
    size = 4 * _PHASH_SIZE
    src_h, src_w = px.shape
    rows = np.minimum((np.arange(size) * src_h) // size, src_h - 1)
    cols = np.minimum((np.arange(size) * src_w) // size, src_w - 1)
    small = px[rows][:, cols]
    coeffs = _DCT @ small @ _DCT.T
    block = coeffs[:_PHASH_SIZE, :_PHASH_SIZE].ravel()[1:]  # drop DC
    bits = block > np.median(block)
    return int(sum(1 << i for i, b in enumerate(bits) if b))


def phash_signatures(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-image pHash as a long column (Arrow-batched pandas UDF over the
    real decoders — PPM/PGM/BMP/PNG)."""

    @F.pandas_udf("long")
    def ph(payloads: pd.Series) -> pd.Series:
        return payloads.map(phash)

    # Non-deterministic marker (guide §4.4): downstream blocking joins
    # imply isnotnull(phash); the pushed filter otherwise lands below the
    # projection and DUPLICATES the ArrowEvalPython node — every image
    # paid the decode+DCT twice (OPTIMIZATION_r18.md counts the
    # evaluations in mm_phash_dedup's plan).
    ph = ph.asNondeterministic()

    return df.select(F.col(id_col), ph(F.col(payload_col)).alias("phash"))


def phash_near_dups(
    df: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Image near-dup pairs within ``max_hamming`` pHash bit flips — the
    visual twin of SimHash text dedup, sharing its pigeonhole chunk
    blocking (`operators/dedup.py::hamming_blocked_pairs`): one decode
    pass per image, then equi-join blocking over 63-bit signatures; no
    cross join, payloads never shuffle.
    """
    from kusuma_metamorph_etl_spark.operators.dedup import hamming_blocked_pairs

    # Both pigeonhole-blocking self-join sides consume the signature
    # frame; without materialization each side re-runs the full
    # decode → grayscale → DCT Arrow chain over every image.  The
    # (id, phash) frame is two fixed-width columns — tiny next to the
    # payloads — so this is the dedup_embedding_lsh signature-sharing
    # trade, NOT the reverted hamming_blocked_pairs-level one (SimHash
    # signatures are a cheap codegen'd SQL pipeline that recomputes
    # faster than it materializes; the pHash chain is heavyweight
    # Python).
    sigs = share(phash_signatures(df, id_col, payload_col))
    return hamming_blocked_pairs(sigs, _PHASH_BITS, max_hamming, id_col, "phash")


# ------------------------------------------------------------- audio codec

def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Canonical-header WAV encoder.  ``samples``: 1-D (mono) or 2-D
    ``(n_samples, channels)`` interleaved on write.  The sample format is
    dtype-driven like :func:`encode_png`: ``uint8`` → 8-bit PCM
    (offset-binary per spec), ``float32`` → WAVE_FORMAT_IEEE_FLOAT
    (with the fact chunk the RIFF spec requires for non-PCM), anything
    else casts to the historical int16 PCM path."""
    arr = np.asarray(samples)
    if arr.dtype == np.uint8:
        fmt_tag, bits = 1, 8
    elif arr.dtype == np.float32:
        fmt_tag, bits = 3, 32
    else:
        arr, fmt_tag, bits = arr.astype(np.int16), 1, 16
    if arr.ndim == 1:
        arr = arr[:, None]
    n, channels = arr.shape
    data = (
        arr.astype(arr.dtype.newbyteorder("<")).tobytes()
    )  # interleaved little-endian
    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    fact = (
        b"fact" + struct.pack("<II", 4, n) if fmt_tag != 1 else b""
    )  # required for non-PCM formats per RIFF spec
    if fmt_tag == 1:
        fmt_chunk = b"fmt " + struct.pack(
            "<IHHIIHH", 16, fmt_tag, channels, sample_rate, byte_rate,
            block_align, bits,
        )
    else:
        # Non-PCM fmt chunks carry the cbSize extension-size field
        # (WAVEFORMATEX) — 18 bytes with cbSize=0; strict parsers reject
        # a 16-byte non-PCM fmt.
        fmt_chunk = b"fmt " + struct.pack(
            "<IHHIIHHH", 18, fmt_tag, channels, sample_rate, byte_rate,
            block_align, bits, 0,
        )
    # RIFF chunks are word-aligned: an odd-sized data chunk gets a zero
    # pad byte that is EXCLUDED from the chunk size but included in the
    # RIFF size (pcm8 mono with odd n hits this).
    pad = b"\x00" if len(data) & 1 else b""
    body = (
        fmt_chunk
        + fact
        + b"data"
        + struct.pack("<I", len(data))
        + data
        + pad
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


# WAVE_FORMAT_EXTENSIBLE SubFormat GUIDs are <format-code-LE(2)> +
# this fixed 14-byte KSDATAFORMAT media-type tail (mmreg.h).
_KS_GUID_TAIL = bytes.fromhex("000000001000800000aa00389b71")


def decode_audio(payload: bytes) -> dict[str, Any]:
    """Real PCM16 WAV decode → ``{format, sample_rate, channels,
    n_samples, duration_ms, samples}`` (numpy int16, shape (n, channels)).

    Walks RIFF chunks (fmt/data may be preceded by LIST etc.); only
    uncompressed PCM16 is supported — compressed audio raises
    ``NotImplementedError`` through the same seam a production codec
    plugs into; non-WAV payloads raise ``ValueError``.
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("unrecognized audio payload (not RIFF/WAVE)")
    pos, fmt, data, fmt_ext = 12, None, None, b""
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
            fmt_ext = body[16:]  # cbSize + WAVE_FORMAT_EXTENSIBLE union
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV payload missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: the real format code is the first two
        # bytes (little-endian) of the SubFormat GUID, whose remaining
        # 14 bytes must be the fixed KSDATAFORMAT tail — layout after
        # the 16-byte base fmt: cbSize(2) validBits(2) channelMask(4)
        # GUID(16).
        if len(fmt_ext) < 24 or struct.unpack_from("<H", fmt_ext, 0)[0] < 22:
            raise ValueError("malformed WAVE_FORMAT_EXTENSIBLE fmt chunk")
        guid = fmt_ext[8:24]
        if guid[2:] != _KS_GUID_TAIL:
            raise NotImplementedError(
                "WAVE_FORMAT_EXTENSIBLE with a non-KSDATAFORMAT SubFormat "
                "GUID; inject a codec via extract_binary_features(decoder=...)"
            )
        audio_format = struct.unpack_from("<H", guid, 0)[0]
    if audio_format == 1 and bits == 16:
        samples = np.frombuffer(
            data, dtype="<i2", count=(len(data) // (2 * channels)) * channels
        )
    elif audio_format == 1 and bits == 8:
        # 8-bit PCM is UNSIGNED offset-binary per the RIFF/WAVE spec
        # (silence = 0x80); presented raw at file depth like the image
        # codecs, not re-centred.
        samples = np.frombuffer(
            data, dtype=np.uint8, count=(len(data) // channels) * channels
        )
    elif audio_format == 1 and bits == 24:
        # No 3-byte numpy dtype: widen little-endian 24-bit samples into
        # the top of an int32 and arithmetic-shift down, preserving sign
        # and true 24-bit magnitude.
        n3 = (len(data) // (3 * channels)) * (3 * channels)
        raw = np.frombuffer(data, dtype=np.uint8, count=n3)
        raw = raw.reshape(-1, 3).astype(np.uint32)
        packed = (raw[:, 0] << 8) | (raw[:, 1] << 16) | (raw[:, 2] << 24)
        samples = packed.view(np.int32) >> 8
    elif audio_format == 3 and bits == 32:
        # WAVE_FORMAT_IEEE_FLOAT: nominal range [-1, 1], presented raw.
        samples = np.frombuffer(
            data, dtype="<f4", count=(len(data) // (4 * channels)) * channels
        )
    else:
        raise NotImplementedError(
            f"WAV format tag {audio_format} at {bits}-bit not supported "
            "(PCM 8/16/24 and IEEE float32 decode for real); inject a "
            "codec via extract_binary_features(decoder=...)"
        )
    samples = samples.reshape(-1, channels)
    return {
        "format": "wav",
        "sample_rate": sample_rate,
        "channels": channels,
        "n_samples": samples.shape[0],
        "duration_ms": int(samples.shape[0] * 1000 / sample_rate),
        "samples": samples,
    }


AUDIO_FEATURE_SCHEMA = (
    "format string, sample_rate int, channels int, "
    "n_samples long, duration_ms long, n_bytes long, rms double"
)


def audio_features(payload: bytes) -> dict[str, Any]:
    """Default audio feature extractor: real decode + summary stats."""
    audio = decode_audio(payload)
    samples = audio["samples"].astype(np.float64)
    return {
        "format": audio["format"],
        "sample_rate": audio["sample_rate"],
        "channels": audio["channels"],
        "n_samples": audio["n_samples"],
        "duration_ms": audio["duration_ms"],
        "n_bytes": len(payload),
        "rms": float(np.sqrt(np.mean(samples**2))) if samples.size else 0.0,
    }


def synthesize_wav(text: str, sample_rate: int = 16000) -> bytes:
    """Deterministic synthetic mono PCM16 payload from document text (no
    audio data ships in the container): sample count from the text's byte
    length, samples from its repeated md5 digest.  Oracle-reproducible:
    n_bytes = 44 + n_samples*2, n_samples = 64 + byte_length % 128."""
    raw = text.encode("utf-8")
    n = 64 + len(raw) % 128
    digest = hashlib.md5(raw).digest()
    pcm = np.frombuffer(
        (digest * (2 * n // len(digest) + 1))[: 2 * n], dtype="<i2"
    )
    return encode_wav(pcm, sample_rate)


def synthesize_wav_format(
    text: str, kind: str, sample_rate: int = 16000
) -> bytes:
    """Deterministic multi-format WAV synthesis: the byte-length contract
    of :func:`synthesize_wav` (n_samples = 64 + byte_length % 128)
    carried across the three dtype-driven encoder formats, so an oracle
    can recompute sizes per format — PCM16: 44 + 2n bytes, PCM8: 44 + n,
    float32: 56 + 4n (the fact chunk adds 12)."""
    raw = text.encode("utf-8")
    n = 64 + len(raw) % 128
    digest = hashlib.md5(raw).digest()
    blob = digest * (2 * n // len(digest) + 1)
    if kind == "pcm16":
        samples: np.ndarray = np.frombuffer(blob[: 2 * n], dtype="<i2")
    elif kind == "pcm8":
        samples = np.frombuffer(blob[:n], dtype=np.uint8)
    elif kind == "float32":
        samples = (
            np.frombuffer(blob[: 2 * n], dtype="<i2") / 32768.0
        ).astype(np.float32)
    else:
        raise ValueError(f"unknown WAV synthesis kind {kind!r}")
    return encode_wav(samples, sample_rate)


# ------------------------------------------------------- audio DSP features

_TONE_N = 1024  # samples per synthetic tone; FFT bin width = sr / _TONE_N


def tone_hz(byte_length: int, sample_rate: int = 16000) -> float:
    """The synthesis contract for :func:`synthesize_tone`: frequency from
    the text's byte length, always an EXACT FFT-bin multiple (bin width
    sr/1024 = 15.625 Hz at 16 kHz; 1000 and 125 are both multiples), so
    the spectral peak lands in a single bin and the oracle can recompute
    it: ``1000 + (byte_length % 40) * 125``."""
    return 1000.0 + (byte_length % 40) * 125.0 * (sample_rate / 16000)


def synthesize_tone(text: str, sample_rate: int = 16000) -> bytes:
    """Deterministic pure-sine PCM16 payload at :func:`tone_hz` of the
    text's byte length — the known-answer input for the FFT path."""
    f = tone_hz(len(text.encode("utf-8")), sample_rate)
    n = np.arange(_TONE_N)
    pcm = (8000 * np.sin(2 * np.pi * f * n / sample_rate)).astype(np.int16)
    return encode_wav(pcm, sample_rate)


SPECTRAL_SCHEMA = "peak_hz double, spectral_centroid double, zcr double"


def spectral_features(payload: bytes) -> dict[str, Any]:
    """Real DSP over the decoded waveform: rFFT magnitude spectrum →
    dominant-bin frequency + spectral centroid, plus time-domain
    zero-crossing rate.  Multi-channel audio is averaged to mono first."""
    audio = decode_audio(payload)
    mono = audio["samples"].astype(np.float64).mean(axis=1)
    sr = audio["sample_rate"]
    if mono.size == 0:
        return {"peak_hz": 0.0, "spectral_centroid": 0.0, "zcr": 0.0}
    mag = np.abs(np.fft.rfft(mono))
    freqs = np.fft.rfftfreq(mono.size, d=1.0 / sr)
    mag[0] = 0.0  # ignore DC — a constant offset is not a pitch
    total = mag.sum()
    return {
        "peak_hz": float(freqs[int(np.argmax(mag))]),
        "spectral_centroid": float((freqs * mag).sum() / total) if total else 0.0,
        "zcr": float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))),
    }


# ---------------------------------------------------------------- augmentation

_AUG_OPS = ("hflip", "vflip", "rot90", "rot180", "rot270", "crop_c50")


def _augment_pixels(p: "np.ndarray", op: str) -> "np.ndarray":
    if op == "hflip":
        out = p[:, ::-1]
    elif op == "vflip":
        out = p[::-1]
    elif op == "rot90":
        out = np.rot90(p, 1)
    elif op == "rot180":
        out = np.rot90(p, 2)
    elif op == "rot270":
        out = np.rot90(p, 3)
    elif op == "crop_c50":
        h, w = p.shape[:2]
        h2, w2 = max(1, h // 2), max(1, w // 2)
        top, left = (h - h2) // 2, (w - w2) // 2
        out = p[top : top + h2, left : left + w2]
    else:
        raise ValueError(f"unknown augmentation {op!r}; choose from {_AUG_OPS}")
    return np.ascontiguousarray(out)


def _encode_as(pixels: "np.ndarray", fmt: str) -> bytes:
    if fmt == "bmp":
        return encode_bmp(pixels)
    if fmt == "png":
        return encode_png(pixels)
    if fmt == "gif":
        # geometric ops permute/subset pixels, so the palette can only
        # shrink — re-encoding stays palette-expressible
        return encode_gif(pixels)
    if fmt == "jpeg":
        from kusuma_metamorph_etl_spark.operators.jpeg import encode_jpeg

        return encode_jpeg(pixels, quality=95)
    return encode_ppm(pixels)


def augment_image(payload: bytes, op: str) -> bytes:
    """One deterministic augmentation of a decodable image payload,
    re-encoded in its source format.  Geometric ops only (flips, quarter
    rotations, center crop) — deterministic by construction, so the
    augmented corpus is reproducible run-to-run (the training-data
    requirement 'random' jitter augmentations do not meet without seed
    plumbing).  Flips and rotations PERMUTE pixels: every summary
    statistic of the pixel multiset (mean, histogram) is invariant —
    the test/oracle contract."""
    img = decode_image(payload)
    return _encode_as(_augment_pixels(img["pixels"], op), img["format"])


AUGMENT_SCHEMA = (
    "op string, payload binary, width int, height int, mean_value double"
)


def augment(
    df: DataFrame,
    ops: list[str] | None = None,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Augmentation fan-out: one output row per (image, op), carrying the
    re-encoded payload plus typed metadata — a narrow expansion by
    len(ops), embarrassingly partition-parallel."""
    use_ops = list(ops or _AUG_OPS)
    unknown = set(use_ops) - set(_AUG_OPS)
    if unknown:
        raise ValueError(f"unknown augmentations {sorted(unknown)}")

    def rows_of(payload: bytes) -> list[tuple]:
        # decode ONCE per image; every op transforms the decoded array and
        # stats come from it directly (decode-per-op plus a re-decode for
        # stats measured 3x slower on the 6-op fan-out)
        img = decode_image(payload)
        rows = []
        for op in use_ops:
            px = _augment_pixels(img["pixels"], op)
            rows.append(
                (op, _encode_as(px, img["format"]), px.shape[1], px.shape[0],
                 float(px.mean()))
            )
        return rows

    return map_payloads(df, rows_of, AUGMENT_SCHEMA, id_col, payload_col)


# ---------------------------------------------------------- audio augmentation

_AUDIO_AUG_OPS = ("reverse", "gain_half", "decimate2", "pad_256")


def augment_audio(payload: bytes, op: str) -> bytes:
    """One deterministic audio augmentation of a PCM16 WAV payload (any
    other sample format raises ``ValueError``), re-encoded at the source
    sample rate.  Same reproducibility stance
    as :func:`augment_image`: geometric/integer ops only.

    * ``reverse`` — time reversal (a permutation: every sample-multiset
      statistic is invariant — the test/oracle contract);
    * ``gain_half`` — arithmetic shift halving (``s >> 1``, exact
      integer semantics, no float resampling);
    * ``decimate2`` — keep every 2nd sample (naive 2× downsample;
      anti-alias filtering is a real-DSP concern documented out of
      scope — the plumbing and length contract are what this exercises);
    * ``pad_256`` — right zero-pad to ≥ 256 samples (fixed-length
      training windows).
    """
    audio = decode_audio(payload)
    return encode_wav(
        _augment_samples(audio["samples"], op), audio["sample_rate"]
    )


def _augment_samples(s: "np.ndarray", op: str) -> "np.ndarray":
    if s.dtype != np.int16:
        # PCM8 is offset-binary (silence 0x80), float32 is not integer and
        # 24-bit does not fit int16: each op here would corrupt them.
        raise ValueError(
            f"audio augmentation needs PCM16 samples, got {s.dtype.name}"
        )
    if op == "reverse":
        out = s[::-1]
    elif op == "gain_half":
        out = s >> 1
    elif op == "decimate2":
        out = s[::2]
    elif op == "pad_256":
        n = s.shape[0]
        if n >= 256:
            out = s
        else:
            out = np.concatenate(
                [s, np.zeros((256 - n, s.shape[1]), dtype=np.int16)]
            )
    else:
        raise ValueError(
            f"unknown audio augmentation {op!r}; choose from {_AUDIO_AUG_OPS}"
        )
    return np.ascontiguousarray(out)


AUDIO_AUGMENT_SCHEMA = "op string, payload binary, n_samples long, sum_abs long"


def audio_augment(
    df: DataFrame,
    ops: list[str] | None = None,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Audio augmentation fan-out — one row per (clip, op) with the
    re-encoded payload, decoded length, and the exact int64 sum of
    absolute samples (the permutation-invariance witness)."""
    use_ops = list(ops or _AUDIO_AUG_OPS)
    unknown = set(use_ops) - set(_AUDIO_AUG_OPS)
    if unknown:
        raise ValueError(f"unknown audio augmentations {sorted(unknown)}")

    def rows_of(payload: bytes) -> list[tuple]:
        # one decode per clip, as in the image fan-out
        audio = decode_audio(payload)
        rows = []
        for op in use_ops:
            out = _augment_samples(audio["samples"], op)
            rows.append(
                (op, encode_wav(out, audio["sample_rate"]), int(out.shape[0]),
                 int(np.abs(out.astype(np.int64)).sum()))
            )
        return rows

    return map_payloads(df, rows_of, AUDIO_AUGMENT_SCHEMA, id_col, payload_col)


# ------------------------------------------------------------------- GIF

_GIF_HEADERS = (b"GIF87a", b"GIF89a")


def _gif_lzw_compress(indices: list[int], mcs: int) -> bytes:
    """GIF-variant LZW: variable-width codes (LSB-first bitstream),
    CLEAR = 2^mcs, EOI = CLEAR+1; the encoder widens one code BEFORE the
    decoder's threshold ((1<<width)+1 vs (1<<width)) — the classic
    lock-step pairing — and emits CLEAR on dictionary overflow."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    width = mcs + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, width)
    buf: tuple[int, ...] = ()
    for idx in indices:
        cand = buf + (idx,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = mcs + 1
        buf = (idx,)
    if buf:
        emit(table[buf], width)
        if next_code < 4096:
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
    emit(eoi, width)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decompress(data: bytes, mcs: int) -> list[int]:
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table: dict[int, tuple[int, ...]] = {i: (i,) for i in range(clear)}
    next_code = eoi + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    bitpos, total_bits = 0, len(data) * 8
    while True:
        if bitpos + width > total_bits:
            # Real encoders may omit the explicit EOI and just end the
            # data sub-blocks (the canonical 1x1 spacer GIF does) —
            # tolerate EOF here; the frame decoder validates the pixel
            # count, which is the error that matters.
            return out
        chunk = int.from_bytes(
            data[bitpos // 8 : bitpos // 8 + 3], "little"
        )
        code = (chunk >> (bitpos % 8)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = {i: (i,) for i in range(clear)}
            next_code = eoi + 1
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + (prev[0],)  # the KwKwK special case
            else:
                raise ValueError(f"corrupt GIF LZW stream (code {code})")
            if next_code < 4096:
                table[next_code] = prev + (entry[0],)
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
        out.extend(entry)
        prev = entry


def _gif_interlace_order(h: int) -> list[int]:
    """GIF89a appendix-E four-pass interlace row sequence: the k-th row
    in the LZW stream is image row ``order[k]`` — pass 1 every 8th row
    from 0, pass 2 every 8th from 4, pass 3 every 4th from 2, pass 4
    every 2nd from 1.  Short images simply skip empty passes."""
    return [
        *range(0, h, 8),
        *range(4, h, 8),
        *range(2, h, 4),
        *range(1, h, 2),
    ]


def encode_gif(pixels: "np.ndarray", interlace: bool = False) -> bytes:
    """GIF89a encoder for palette-expressible images (≤ 256 distinct
    colors — GIF IS a palette format; quantization is out of scope, so a
    richer image raises instead of silently posterizing).  Greyscale HxW
    arrays expand to RGB.  Deterministic: the palette is the
    lexicographically-sorted distinct-color list.  With ``interlace``
    the rows are written in the four-pass appendix-E order and the
    image-descriptor interlace flag is set."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected HxW or HxWx3 uint8 array, got {arr.shape}")
    h, w, _ = arr.shape
    flat = arr.reshape(-1, 3)
    colors = np.unique(flat, axis=0)
    if len(colors) > 256:
        raise ValueError(
            f"GIF needs a <=256-color palette; image has {len(colors)} "
            "distinct colors (quantize first)"
        )
    lut = {tuple(c): i for i, c in enumerate(map(tuple, colors))}
    idx = np.array(
        [lut[tuple(px)] for px in map(tuple, flat)], dtype=np.int64
    ).reshape(h, w)
    if interlace:
        idx = idx[_gif_interlace_order(h)]
    indices = idx.ravel().tolist()
    gct_bits = max(1, (len(colors) - 1).bit_length())
    palette = np.zeros((1 << gct_bits, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    mcs = max(2, gct_bits)
    lzw = _gif_lzw_compress(indices, mcs)
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (7 << 4) | (gct_bits - 1), 0, 0])
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00])
    out += bytes([mcs])
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"
    return bytes(out)


def _decode_gif(payload: bytes) -> "np.ndarray":
    """GIF87a/89a decoder: global/local color tables, extension-block
    skipping, real variable-width LZW, sequential AND four-pass
    interlaced frames (appendix-E row order) — first image frame, as
    RGB."""
    if payload[:6] not in _GIF_HEADERS:
        raise ValueError("not a GIF payload")
    try:
        w_screen, h_screen = struct.unpack_from("<HH", payload, 6)
        packed, _bg, _aspect = struct.unpack_from("<BBB", payload, 10)
    except struct.error:
        raise ValueError("truncated GIF payload (no screen descriptor)") from None
    try:
        return _gif_walk_blocks(payload, packed, 13)
    except (IndexError, struct.error):
        raise ValueError("truncated GIF payload") from None


def _gif_walk_blocks(payload: bytes, packed: int, pos: int) -> "np.ndarray":
    gct = None
    if packed & 0x80:
        size = 1 << ((packed & 0x07) + 1)
        gct = np.frombuffer(payload, dtype=np.uint8, count=size * 3, offset=pos)
        gct = gct.reshape(size, 3)
        pos += size * 3
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + data sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _left, _top, w, h = struct.unpack_from("<HHHH", payload, pos + 1)
            ipacked = payload[pos + 9]
            pos += 10
            table = gct
            if ipacked & 0x80:  # local color table overrides
                size = 1 << ((ipacked & 0x07) + 1)
                table = np.frombuffer(
                    payload, dtype=np.uint8, count=size * 3, offset=pos
                ).reshape(size, 3)
                pos += size * 3
            if table is None:
                raise ValueError("GIF frame has no color table")
            mcs = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                n = payload[pos]
                data += payload[pos + 1 : pos + 1 + n]
                pos += 1 + n
            indices = _gif_lzw_decompress(bytes(data), mcs)
            if len(indices) < w * h:
                raise ValueError(
                    f"GIF frame decoded {len(indices)} pixels, needs {w * h}"
                )
            idx = np.array(indices[: w * h], dtype=np.int64)
            if idx.max(initial=0) >= len(table):
                raise ValueError("GIF pixel index outside color table")
            rgb = table[idx].reshape(h, w, 3)
            if ipacked & 0x40:
                # interlaced: stream row k is image row order[k]
                out = np.empty_like(rgb)
                out[_gif_interlace_order(h)] = rgb
                rgb = out
            return rgb
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unrecognized GIF block 0x{block:02x}")
    raise ValueError("GIF payload contains no image frame")


def synthesize_gif(text: str, interlace: bool = False) -> bytes:
    """Deterministic synthetic GIF payload — same pixel contract as
    :func:`synthesize_ppm` (the repeated-md5 pixels hold ≤ 48 distinct
    colors, comfortably palette-expressible), so the GIF LZW decode path
    must yield the exact pixels the PPM path yields (the
    `mm_gif_features` gate; `mm_gif_interlaced` sets ``interlace``)."""
    return encode_gif(_synthesize_pixels(text), interlace=interlace)


def synthesize_jpeg(text: str) -> bytes:
    """Deterministic synthetic JPEG payload — same pixel contract as
    :func:`synthesize_ppm`.  JPEG is LOSSY: the decode matches the PPM
    pixels approximately (quantization-bounded), which is exactly what
    the `mm_jpeg_features` gate checks — a tolerance, not equality."""
    from kusuma_metamorph_etl_spark.operators.jpeg import encode_jpeg

    return encode_jpeg(_synthesize_pixels(text), quality=95)


def transcode_images(
    df: DataFrame,
    to: str = "png",
    id_col: str = "doc_id",
    payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """Cross-format image transcoding: decode WHATEVER format each
    payload is in (format sniffed per row — a real crawl corpus is
    heterogeneous) and re-encode as ``to`` — the archival normalization
    pass that turns a mixed PPM/BMP/PNG/GIF/JPEG crawl into one uniform
    storage format.  Emits ``(id, src_format, payload, width, height)``
    with the payload re-encoded.

    ``on_error``: ``"raise"`` (default — tests and curated corpora want
    the loud failure) or ``"quarantine"`` — a corrupt or
    genuinely-unsupported payload (e.g. arithmetic-coded JPEG) must not
    kill a 100 TB normalization job.  Two failure classes stay
    DISTINGUISHABLE (lumping them inflates the input-coverage metric
    with healthy images):

    * DECODE failure (corrupt/unsupported INPUT): ``src_format='error'``,
      NULL payload, zero dims, exception text in ``error`` —
      ``filter(src_format = 'error')`` is the input carve-out count;
    * ENCODE failure (healthy image the TARGET can't express, e.g.
      >256-color pixels → GIF): the TRUE ``src_format``/dims survive,
      payload NULL, ``error`` filled — countable via
      ``error IS NOT NULL AND src_format <> 'error'``.

    GIF targets require palette-expressible pixels (the encoder raises
    rather than posterizing — see `encode_gif`); JPEG targets are lossy
    by design.  Decode+encode once per image, no shuffle.
    """
    if to not in ("png", "ppm", "bmp", "gif", "jpeg"):
        raise ValueError(f"unknown target format {to!r}")
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be 'raise' or 'quarantine', got {on_error!r}")
    quarantine = on_error == "quarantine"

    def rows_of(payload: bytes) -> list[dict[str, Any]]:
        try:
            img = decode_image(payload)
        except (ValueError, NotImplementedError) as e:
            # DECODE failure: the payload is corrupt or a genuinely
            # unsupported codec — the carve-out the quarantine count
            # quantifies
            if not quarantine:
                raise
            return [{"src_format": "error", "payload": None, "width": 0,
                     "height": 0, "error": f"{type(e).__name__}: {e}"}]
        try:
            out_payload, err = _encode_as(img["pixels"], to), None
        except (ValueError, NotImplementedError) as e:
            # ENCODE failure: the image is healthy, the TARGET can't
            # express it (e.g. >256-color pixels -> GIF).  Keep the true
            # src_format/dims so the quarantine metric stays "corrupt or
            # unsupported INPUTS" and target-side misfits are separately
            # countable.
            if not quarantine:
                raise
            out_payload, err = None, f"{type(e).__name__}: {e}"
        return [{"src_format": img["format"], "payload": out_payload,
                 "width": img["width"], "height": img["height"], "error": err}]

    schema = "src_format string, payload binary, width int, height int"
    if quarantine:
        schema += ", error string"
    return map_payloads(df, rows_of, schema, id_col, payload_col)
