"""[EXT] multimodal queries (image/audio/video codec features,
phash dedup, augment, transcode) — split from ``ext.py``."""

from __future__ import annotations

from functools import partial, reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kusuma_metamorph_etl_spark.operators import multimodal, text
from kusuma_metamorph_etl_spark.plans.share import share
from kusuma_metamorph_etl_spark.registry import register
from kusuma_metamorph_etl_spark.sources.catalog import load_table as t
from kusuma_metamorph_etl_spark.queries.ext_common import _gate, _n

# ---------------------------------------------------------------- multimodal

@register(
    "mm_binary_features",
    """SELECT doc_id,
              'ppm' AS format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels,
              CAST(9 + length(CAST(4 + octet_length(encode(text)) % 5 AS VARCHAR))
                     + length(CAST(4 + (7 * octet_length(encode(text))) % 5 AS VARCHAR))
                     + (4 + octet_length(encode(text)) % 5)
                       * (4 + (7 * octet_length(encode(text))) % 5) * 3
                   AS BIGINT) AS n_bytes
       FROM documents""",
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode over mapInPandas: per-document synthesized PPM
    payloads (no image data ships in the container) run through the pure-
    numpy PPM decoder; the oracle recomputes the expected dimensions and
    payload size from the synthesis contract (operators/multimodal.py
    ``synthesize_ppm``).  A mis-parsed header fails the hash."""
    docs = t(spark, sf_dir, "documents")
    payloads = multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    feats = multimodal.extract_binary_features(payloads)
    return feats.select("doc_id", "format", "width", "height", "channels", "n_bytes")

@register(
    "mm_png_features",
    """SELECT doc_id,
              'png' AS format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels
       FROM documents""",
)
def mm_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode: per-document synthetic PNG payloads
    (zlib deflate at write, inflate + scanline unfilter at read —
    operators/multimodal.py ``encode_png``/``_decode_png``) run through the
    feature extractor.  The oracle recomputes dimensions from the synthesis
    contract; additionally the PNG pixel MEAN must equal the PPM decode of
    the identical pixel array (`_synthesize_pixels`), so a wrong inflate or
    unfilter drops rows and turns the driver compare red — PNG byte size
    itself is zlib-version-dependent and deliberately not emitted."""
    docs = t(spark, sf_dir, "documents")
    png = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_png, "image/png")
    )
    ppm = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    ).select("doc_id", F.col("mean_value").alias("ppm_mean"))
    return (
        png.join(ppm, "doc_id")
        .filter(F.abs(F.col("mean_value") - F.col("ppm_mean")) < 1e-12)
        .select("doc_id", "format", "width", "height", "channels")
    )

@register(
    "mm_phash_dedup",
    """SELECT doc_id AS a, doc_id + 1000000 AS b
       FROM documents WHERE doc_id % 9 = 0""",
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup ([EXT]): DCT pHash signatures over
    REAL decodes, paired by the SimHash pigeonhole blocking
    (`operators/multimodal.py::phash_near_dups`).  Same `_err` gate shape
    as `dedup_simhash_err`: every 9th document's synthetic image is
    planted again under a shifted id — identical pixels hash identically
    (Hamming 0, cross-format invariant), so every planted pair MUST
    surface; output is the oracle-computable planted list, gated on zero
    misses."""
    docs = t(spark, sf_dir, "documents")
    imgs = multimodal.attach_payload(
        docs, multimodal.synthesize_ppm, "image/ppm"
    ).select("doc_id", "payload")
    planted = imgs.filter(F.col("doc_id") % 9 == 0)
    copies = planted.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    pairs = multimodal.phash_near_dups(
        imgs.unionByName(copies), max_hamming=2
    ).select("a", "b")
    expected = planted.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1_000_000).alias("b")
    )
    missed = expected.join(pairs, ["a", "b"], "left_anti")
    stats = _n(expected, "n_exp").crossJoin(_n(missed, "n_miss"))
    ok = (F.col("n_exp") > 0) & (F.col("n_miss") == 0)
    return _gate(expected, stats, ok)

@register(
    "mm_video_frames",
    """WITH d AS (SELECT doc_id,
                         8 + octet_length(encode(text)) % 5 AS w,
                         4 + octet_length(encode(text)) % 3 AS h,
                         2 + octet_length(encode(text)) % 4 AS nf
                  FROM documents)
       SELECT doc_id,
              CAST(unnest(range(nf)) AS INTEGER) AS frame_idx,
              CAST(w AS INTEGER) AS width,
              CAST(h AS INTEGER) AS height,
              CAST(nf AS INTEGER) AS n_frames
       FROM d""",
)
def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode: per-document synthetic Y4M streams
    (the standard uncompressed YUV4MPEG2 format) walked frame-by-frame —
    header parse, FRAME markers, fixed-size plane reads
    (`operators/multimodal.py::decode_video`); one row per decoded frame.
    The oracle recomputes dims/frame-count from the synthesis contract; a
    mis-parsed header or mis-sized plane read either shifts the row count
    or raises, turning the driver row red.  Pixel-level round-trip
    equality is pinned in tests/."""
    docs = t(spark, sf_dir, "documents")
    videos = multimodal.attach_payload(docs, multimodal.synthesize_y4m, "video/y4m")
    return multimodal.extract_video_frames(videos).select(
        "doc_id", "frame_idx", "width", "height", "n_frames"
    )

@register(
    "mm_audio_spectral",
    """SELECT doc_id,
              1000.0 + (octet_length(encode(text)) % 40) * 125.0 AS peak_hz
       FROM documents""",
)
def mm_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio DSP: per-document pure sine tones at a known frequency
    (an exact FFT-bin multiple — `operators/multimodal.py::tone_hz`) run
    through WAV decode → rFFT → dominant-bin pitch detection over
    mapInPandas.  The oracle recomputes the synthesized frequency from the
    byte-length contract; a wrong decode, FFT, or bin→Hz mapping shifts
    the peak and fails the hash (bin frequencies are exact binary
    fractions, so equality is bit-for-bit)."""
    docs = t(spark, sf_dir, "documents")
    tones = multimodal.attach_payload(docs, multimodal.synthesize_tone, "audio/wav")
    return multimodal.extract_binary_features(
        tones,
        decoder=multimodal.spectral_features,
        schema=multimodal.SPECTRAL_SCHEMA,
    ).select("doc_id", "peak_hz")

@register(
    "mm_audio_features",
    """SELECT doc_id,
              'wav' AS format,
              CAST(16000 AS INTEGER) AS sample_rate,
              CAST(1 AS INTEGER) AS channels,
              CAST(64 + octet_length(encode(text)) % 128 AS BIGINT) AS n_samples,
              CAST((64 + octet_length(encode(text)) % 128) * 1000 // 16000
                   AS BIGINT) AS duration_ms,
              CAST(44 + (64 + octet_length(encode(text)) % 128) * 2 AS BIGINT)
                  AS n_bytes
       FROM documents""",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode over mapInPandas: per-document synthesized PCM16
    WAV payloads run through the pure-numpy RIFF/WAVE parser; the oracle
    recomputes sample counts and byte sizes from the synthesis contract
    (operators/multimodal.py ``synthesize_wav``) — a mis-parsed header
    fails the hash.  RMS energy is decode-only (not SQL-expressible) and
    is asserted in tests instead."""
    docs = t(spark, sf_dir, "documents")
    payloads = multimodal.attach_payload(docs, multimodal.synthesize_wav, "audio/wav")
    feats = multimodal.extract_binary_features(
        payloads,
        decoder=multimodal.audio_features,
        schema=multimodal.AUDIO_FEATURE_SCHEMA,
    )
    return feats.select(
        "doc_id", "format", "sample_rate", "channels", "n_samples",
        "duration_ms", "n_bytes",
    )

@register(
    "mm_wav_formats",
    """SELECT doc_id,
              CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'pcm16'
                   WHEN 1 THEN 'pcm8' ELSE 'float32' END AS sample_format,
              CAST(64 + octet_length(encode(text)) % 128 AS BIGINT)
                  AS n_samples,
              CAST(CASE CAST(doc_id % 3 AS INTEGER)
                   WHEN 0 THEN 44 + (64 + octet_length(encode(text)) % 128) * 2
                   WHEN 1 THEN 44 + (64 + octet_length(encode(text)) % 128)
                               + (64 + octet_length(encode(text)) % 128) % 2
                   ELSE 58 + (64 + octet_length(encode(text)) % 128) * 4
                   END AS BIGINT) AS n_bytes
       FROM documents""",
)
def mm_wav_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver evidence for the WAV format matrix: per-document
    payloads synthesized as PCM16 / PCM8 / IEEE-float32 by doc_id, run
    through the real RIFF/WAVE decode; ``sample_format`` is derived from
    the DECODED sample dtype (not echoed from the synthesis choice), so
    a mis-parsed fmt chunk, a wrong EXTENSIBLE-style dispatch, or a
    dropped fact chunk flips the hash.  The oracle recomputes the
    per-format byte sizes from the synthesis contract
    (`operators/multimodal.py::synthesize_wav_format`): float32 carries
    the 12-byte fact chunk plus the 18-byte WAVEFORMATEX fmt (cbSize=0
    — required for non-PCM), and odd-length pcm8 data gets the RIFF
    word-alignment pad byte (both RIFF conformance rules)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    @F.pandas_udf("binary")
    def make_wav(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        kinds = ("pcm16", "pcm8", "float32")
        return pd.Series(
            [
                multimodal.synthesize_wav_format(txt, kinds[int(i) % 3])
                for i, txt in zip(doc_id, text)
            ]
        )

    payloads = multimodal._fan_out(docs).withColumn(
        "payload", make_wav("doc_id", "text")
    )
    fmt_by_dtype = {"int16": "pcm16", "uint8": "pcm8", "float32": "float32"}

    def rows_of(payload: bytes) -> list[tuple]:
        audio = multimodal.decode_audio(payload)
        dtype = audio["samples"].dtype.name
        return [(fmt_by_dtype[dtype], audio["n_samples"], len(payload))]

    return multimodal.map_payloads(
        payloads, rows_of, "sample_format string, n_samples long, n_bytes long"
    )

@register(
    "mm_frame_sample",
    """SELECT doc_id,
              CAST(frame_idx AS INTEGER) AS frame_idx,
              lower(hex(encode(substring(text, frame_idx * 64 + 1, 8))))
                  AS frame_hex
       FROM (SELECT doc_id, text,
                    unnest(range(least(greatest((length(text) - 1) // 64, 0), 7) + 1)) AS frame_idx
             FROM documents)""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-slice 'frame sampling' over binary payloads (video stand-in)."""
    docs = t(spark, sf_dir, "documents")
    payloads = multimodal.attach_binary_payload(docs)
    frames = multimodal.sample_frames(payloads, every_n_bytes=64, max_frames=8)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.lower(F.hex(F.col("frame_bytes"))).alias("frame_hex"),
    )

@register(
    "mm_resize",
    """SELECT doc_id,
              CAST(203 AS BIGINT) AS n_bytes,
              CAST(8 AS INTEGER) AS width,
              CAST(8 AS INTEGER) AS height
       FROM documents""",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor resize over mapInPandas: synthesized PPM
    payloads resampled to 8x8 and re-encoded (decode → numpy index
    resample → encode).  The oracle pins the exact output payload size
    (P6 header "P6\\n8 8\\n255\\n" = 11 bytes + 192 pixel bytes); pixel
    placement is asserted in tests/test_multimodal.py."""
    docs = t(spark, sf_dir, "documents")
    payloads = multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    resized = multimodal.resize(payloads, 8, 8)
    return resized.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        "width",
        "height",
    )

@register(
    "mm_augment",
    """WITH dims AS (
         SELECT doc_id,
                CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS w,
                CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS h
         FROM documents),
       ops(op) AS (VALUES ('hflip'), ('vflip'), ('rot90'), ('rot180'),
                          ('rot270'), ('crop_c50'))
       SELECT doc_id, op,
         CASE WHEN op IN ('rot90', 'rot270') THEN h
              WHEN op = 'crop_c50' THEN greatest(w // 2, 1)
              ELSE w END AS width,
         CASE WHEN op IN ('rot90', 'rot270') THEN w
              WHEN op = 'crop_c50' THEN greatest(h // 2, 1)
              ELSE h END AS height
       FROM dims CROSS JOIN ops""",
)
def mm_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic image augmentation fan-out ([EXT] multimodal;
    `operators/multimodal.py::augment`): flips, quarter rotations and a
    center crop over REAL PNG decode→re-encode.  The oracle recomputes
    the expected post-op dimensions from the synthesis contract; flips
    and rotations must additionally preserve the pixel MEAN exactly
    (a permutation of the same multiset) — rows violating it are
    dropped in-query, turning the driver compare red on a wrong
    transform."""
    docs = t(spark, sf_dir, "documents")
    # One synthesis pass: both consumers (original-features witness and
    # the augment fan-out) read the materialized payload frame — without
    # sharing, the PNG synthesis ran once per join branch.
    png = share(
        multimodal.attach_payload(docs, multimodal.synthesize_png, "image/png")
    )
    orig = multimodal.extract_binary_features(png).select(
        "doc_id", F.col("mean_value").alias("orig_mean")
    )
    aug = multimodal.augment(png)
    return (
        aug.join(orig, "doc_id")
        .filter(
            (F.col("op") == "crop_c50")
            | (F.col("mean_value") == F.col("orig_mean"))
        )
        .select("doc_id", "op", "width", "height")
    )

@register(
    "mm_audio_augment",
    """WITH base AS (
         SELECT doc_id,
                CAST(64 + octet_length(encode(text)) % 128 AS BIGINT) AS n
         FROM documents),
       ops(op) AS (VALUES ('reverse'), ('gain_half'), ('decimate2'),
                          ('pad_256'))
       SELECT doc_id, op,
         CASE WHEN op = 'decimate2' THEN (n + 1) // 2
              WHEN op = 'pad_256' THEN greatest(n, 256)
              ELSE n END AS n_samples
       FROM base CROSS JOIN ops""",
)
def mm_audio_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic audio augmentation fan-out ([EXT] multimodal;
    `operators/multimodal.py::audio_augment`): time reversal, integer
    gain halving, naive 2x decimation, and fixed-length zero-padding
    over REAL WAV decode→re-encode.  Oracle: post-op sample counts from
    the synthesis contract; reversal and padding must additionally
    preserve the ORIGINAL decode's exact int64 |sample| sum (permutation
    / zero-extension invariants) — violating rows drop in-query.  The
    witness is the INDEPENDENT plain-decode path, not a second augment
    run (two augment passes could share a decode/re-encode bug and still
    agree; the original decode cannot)."""
    import numpy as np

    docs = t(spark, sf_dir, "documents")
    # Shared synthesis pass — same §4 single-evaluation shape as
    # mm_augment above.
    wav = share(
        multimodal.attach_payload(docs, multimodal.synthesize_wav, "audio/wav")
    )

    def orig_abs_sum(payload: bytes) -> dict:
        audio = multimodal.decode_audio(payload)
        return {
            "orig_abs": int(np.abs(audio["samples"].astype(np.int64)).sum())
        }

    orig = multimodal.extract_binary_features(
        wav, decoder=orig_abs_sum, schema="orig_abs long"
    )
    aug = multimodal.audio_augment(wav)
    return (
        aug.join(orig, "doc_id")
        .filter(
            (~F.col("op").isin("reverse", "pad_256"))
            | (F.col("sum_abs") == F.col("orig_abs"))
        )
        .select("doc_id", "op", "n_samples")
    )

@register(
    "mm_gif_features",
    """SELECT doc_id,
              'gif' AS format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels
       FROM documents""",
)
def mm_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW-compressed image decode ([EXT] multimodal;
    `operators/multimodal.py::encode_gif/_decode_gif` — closes the GIF
    half of the old JPEG/GIF scope boundary): per-document synthetic GIF
    payloads (palette build + variable-width LZW at write, real LZW +
    palette lookup at read; the decoder is additionally pinned to the
    public 1×1 spacer-GIF spec vector in tests, so the codec pair is not
    merely self-consistent).  Same contract as `mm_png_features`: the
    oracle recomputes dimensions from the synthesis contract, and the
    GIF pixel MEAN must equal the PPM decode of the identical pixel
    array — a wrong LZW table, width bump, or palette read drops rows
    and turns the driver red."""
    docs = t(spark, sf_dir, "documents")
    gif = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_gif, "image/gif")
    )
    ppm = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    ).select("doc_id", F.col("mean_value").alias("ppm_mean"))
    return (
        gif.join(ppm, "doc_id")
        .filter(F.abs(F.col("mean_value") - F.col("ppm_mean")) < 1e-12)
        .select("doc_id", "format", "width", "height", "channels")
    )

@register(
    "mm_jpeg_features",
    """SELECT doc_id,
              'jpeg' AS format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels
       FROM documents""",
)
def mm_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-image decode ([EXT] multimodal; `operators/jpeg.py` —
    closes the LAST compressed-image boundary): per-document synthetic
    baseline-JPEG payloads (BT.601 + DCT + quality-95 quantization +
    file-embedded canonical Huffman tables at write; marker parse +
    Huffman + dequantize + IDCT at read).  The oracle recomputes
    dimensions from the synthesis contract; the decoded pixel MEAN must
    land within the LOSSY tolerance (±2 grey levels) of the lossless
    PPM decode of the same pixels — a broken Huffman table, zigzag,
    quantizer, or IDCT shifts means far outside that band and drops
    rows, turning the driver red.  Equality is deliberately NOT the
    contract: JPEG is lossy by design."""
    docs = t(spark, sf_dir, "documents")
    # heavy=True: JPEG encode and Huffman + dequantize + IDCT decode are
    # CPU-bound per document (fan-up measured 2.2 s vs 7.6 s on the single
    # scan split)
    jpg = multimodal.extract_binary_features(
        multimodal.attach_payload(
            docs, multimodal.synthesize_jpeg, "image/jpeg", heavy=True
        ),
        heavy=True,
    )
    ppm = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    ).select("doc_id", F.col("mean_value").alias("ppm_mean"))
    return (
        jpg.join(ppm, "doc_id")
        .filter(F.abs(F.col("mean_value") - F.col("ppm_mean")) < 2.0)
        .select("doc_id", "format", "width", "height", "channels")
    )

@register(
    "mm_jpeg_arithmetic",
    """SELECT doc_id,
              'arith' AS coding,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER)
                  AS height,
              TRUE AS pixels_match_huffman,
              TRUE AS arith_smaller
       FROM documents""",
)
def mm_jpeg_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver evidence for the r13 sequential-arithmetic JPEG path
    (SOF9, the T.81 Annex D+F QM coder — `operators/jpeg.py`): each
    document's synthetic pixels are encoded BOTH ways, the arithmetic
    file is verified to really carry SOF9+DAC (coding derived from the
    MARKERS, not echoed), decoded through the QM decoder, and compared
    pixel-for-pixel against the decoded Huffman twin — same DCT and
    quantization, so equality is exact, and a desynchronized context
    model or a mis-transcribed probability-table row flips
    ``pixels_match_huffman`` and the hash.  ``arith_smaller`` pins the
    coding gain (the format's point; the dropped ~420-byte DHT segment
    alone guarantees it at these sizes).  Dimensions re-derive from the
    synthesis contract on the oracle side."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    def extract(batches):
        import numpy as np

        from kusuma_metamorph_etl_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
            sos_offset,
        )
        from kusuma_metamorph_etl_spark.operators.multimodal import (
            _synthesize_pixels,
        )

        for pdf in batches:
            rows = []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                px = _synthesize_pixels(txt)
                aj = encode_jpeg(px, quality=95, arithmetic=True)
                hj = encode_jpeg(px, quality=95)
                header = aj[: sos_offset(aj)]
                coding = (
                    "arith"
                    if b"\xff\xc9" in header and b"\xff\xcc" in header
                    else "huffman"
                )
                da = decode_jpeg(aj)
                rows.append(
                    (
                        did,
                        coding,
                        da.shape[1],
                        da.shape[0],
                        bool(np.array_equal(da, decode_jpeg(hj))),
                        len(aj) < len(hj),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "coding", "width", "height",
                    "pixels_match_huffman", "arith_smaller",
                ],
            )

    # heavy=True: the QM arithmetic codec is genuinely CPU-bound per
    # row — fan-up measured 1.5 s vs 16.5 s without (r14 A/B)
    return multimodal._fan_out(docs, heavy=True).mapInPandas(
        extract,
        "doc_id long, coding string, width int, height int,"
        " pixels_match_huffman boolean, arith_smaller boolean",
    )


@register(
    "mm_transcode",
    """SELECT doc_id,
              CASE doc_id % 4 WHEN 0 THEN 'ppm' WHEN 1 THEN 'png'
                              WHEN 2 THEN 'gif' ELSE 'jpeg' END AS src_format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height
       FROM documents""",
)
def mm_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format transcoding capstone ([EXT] multimodal;
    `operators/multimodal.py::transcode_images`): a deliberately
    HETEROGENEOUS corpus — each document's image shipped as PPM, PNG,
    GIF or JPEG by id — normalized to PNG in one pass, every codec
    exercised on BOTH the decode side (format sniffed per row) and the
    PNG encode side.  Gate: the normalized PNG must re-decode to the
    source pixel mean (exactly for the lossless sources, within the ±2
    lossy band for JPEG) — rows failing either drop and the driver
    compare turns red; the oracle recomputes format assignment and
    dimensions from the synthesis contract."""
    docs = t(spark, sf_dir, "documents")
    fmt = F.col("doc_id") % 4

    sources = (
        (multimodal.synthesize_ppm, "image/ppm", False),
        (multimodal.synthesize_png, "image/png", False),
        (multimodal.synthesize_gif, "image/gif", False),
        (multimodal.synthesize_jpeg, "image/jpeg", True),
    )
    parts = [
        multimodal.attach_payload(docs.filter(fmt == i), synth, kind, heavy=heavy)
        .select("doc_id", "payload")
        for i, (synth, kind, heavy) in enumerate(sources)
    ]
    mixed = reduce(DataFrame.unionByName, parts)
    # `out` feeds TWO plan branches — the join's probe side and the
    # `redecoded` feature pass — and without sharing each branch re-runs
    # the whole synthesize→encode→sniff→transcode Python chain.
    out = share(multimodal.transcode_images(mixed, to="png"))
    redecoded = multimodal.extract_binary_features(out).select(
        "doc_id", F.col("mean_value").alias("png_mean")
    )
    ppm_mean = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    ).select("doc_id", F.col("mean_value").alias("src_mean"))
    tol = F.when(F.col("src_format") == "jpeg", F.lit(2.0)).otherwise(
        F.lit(1e-12)
    )
    return (
        out.join(redecoded, "doc_id")
        .join(ppm_mean, "doc_id")
        .filter(F.abs(F.col("png_mean") - F.col("src_mean")) < tol)
        .select("doc_id", "src_format", "width", "height")
    )

@register(
    "mm_png_interlaced",
    """SELECT doc_id,
              'png' AS format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels
       FROM documents""",
)
def mm_png_interlaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Adam7-interlaced PNG decode ([EXT] multimodal;
    `operators/multimodal.py::_png_deinterlace` — graduates the
    interlace seam `mm_png_features` left behind): per-document PNGs
    synthesized in the RFC 2083 §2.6 pass layout, decoded by pass-grid
    reassembly with per-pass filter state.  Same gate as the sequential
    row: dimensions recomputed by the oracle AND the decoded pixel mean
    must equal the PPM decode of the identical pixels, so a pass-order,
    scatter, or per-pass-unfilter bug drops rows and turns the driver
    red."""
    docs = t(spark, sf_dir, "documents")
    png = multimodal.extract_binary_features(
        multimodal.attach_payload(
            docs, partial(multimodal.synthesize_png, interlace=True), "image/png"
        )
    )
    ppm = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    ).select("doc_id", F.col("mean_value").alias("ppm_mean"))
    return (
        png.join(ppm, "doc_id")
        .filter(F.abs(F.col("mean_value") - F.col("ppm_mean")) < 1e-12)
        .select("doc_id", "format", "width", "height", "channels")
    )

@register(
    "mm_png_palette",
    """SELECT doc_id,
              'png' AS format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels
       FROM documents""",
)
def mm_png_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL indexed-color PNG decode ([EXT] multimodal;
    `operators/multimodal.py::encode_png_palette` + the PLTE branch of
    `_decode_png` — graduates the palette seam, the last common PNG
    variant behind it): per-document type-3 payloads synthesized IN THE
    ADAM7 LAYOUT (palette indices riding the interlace passes — both
    codec paths in one stream), decoded by unfilter → pass reassembly →
    palette lookup.  Same gate as the other PNG rows: oracle-recomputed
    dimensions AND pixel-mean parity with the PPM twin, so a palette
    ordering, index overflow, or pass-scatter bug drops rows and turns
    the driver red."""
    docs = t(spark, sf_dir, "documents")
    png = multimodal.extract_binary_features(
        multimodal.attach_payload(
            docs,
            partial(multimodal.synthesize_png, interlace=True, palette=True),
            "image/png",
        )
    )
    ppm = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    ).select("doc_id", F.col("mean_value").alias("ppm_mean"))
    return (
        png.join(ppm, "doc_id")
        .filter(F.abs(F.col("mean_value") - F.col("ppm_mean")) < 1e-12)
        .select("doc_id", "format", "width", "height", "channels")
    )

@register(
    "mm_png_trns",
    """SELECT doc_id,
              'png' AS format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height,
              CAST(4 AS INTEGER) AS channels
       FROM documents""",
)
def mm_png_trns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL tRNS-transparency PNG decode ([EXT] multimodal; the tRNS
    branch of `operators/multimodal.py::_decode_png` — graduates the
    last named PNG seam): per-document type-3 payloads
    carrying a HALF-LENGTH all-opaque tRNS chunk, so the decoder must
    parse the chunk, pad the alpha LUT to the palette length with 255,
    and assemble RGBA.  Gate: oracle-recomputed dimensions, channels
    pinned to 4, and mean parity with the PPM twin via the exact
    identity mean(RGBA) = (3·mean(RGB) + 255)/4 — a dropped chunk
    (channels 3), a zero-pad bug, or a misaligned alpha lookup all turn
    the driver red.  Varied per-entry alphas are pinned element-exact in
    tests/test_multimodal.py."""
    docs = t(spark, sf_dir, "documents")
    png = multimodal.extract_binary_features(
        multimodal.attach_payload(
            docs,
            partial(multimodal.synthesize_png, palette=True, trns=True),
            "image/png",
        )
    )
    ppm = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    ).select("doc_id", F.col("mean_value").alias("ppm_mean"))
    return (
        png.join(ppm, "doc_id")
        .filter(
            F.abs(
                F.col("mean_value")
                - (F.lit(3.0) * F.col("ppm_mean") + F.lit(255.0)) / F.lit(4.0)
            )
            < 1e-9
        )
        .select("doc_id", "format", "width", "height", "channels")
    )

@register(
    "mm_png_16bit",
    """SELECT doc_id,
              'png' AS format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels
       FROM documents""",
)
def mm_png_16bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 16-bit-sample-depth PNG decode ([EXT] multimodal; graduates
    the IHDR depth gate `operators/multimodal.py::_decode_png` carried
    since the first PNG decoder): per-document depth-16 RGB payloads
    (each 8-bit sample expanded ×257 = hi|lo byte duplication, the PNG
    spec's recommended scaling), decoded by byte-plane unfilter at
    bpp=6 + big-endian sample recombination into uint16 pixels.  Gate:
    oracle-recomputed dimensions AND the decoded uint16 mean must equal
    257× the PPM twin's 8-bit mean exactly — a byte-order swap, a wrong
    filter bpp, or a dropped low byte all shift the mean and turn the
    driver red.  Filters 1–4 at bpp 6, Adam7 16-bit, 16-bit color keys,
    and the palette+16-bit rejection are pinned element-exact in
    tests/test_multimodal.py."""
    docs = t(spark, sf_dir, "documents")
    png = multimodal.extract_binary_features(
        multimodal.attach_payload(
            docs, partial(multimodal.synthesize_png, depth16=True), "image/png"
        )
    )
    ppm = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    ).select("doc_id", F.col("mean_value").alias("ppm_mean"))
    return (
        png.join(ppm, "doc_id")
        .filter(
            F.abs(F.col("mean_value") - F.lit(257.0) * F.col("ppm_mean"))
            < 1e-6
        )
        .select("doc_id", "format", "width", "height", "channels")
    )

@register(
    "mm_gif_interlaced",
    """SELECT doc_id,
              'gif' AS format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels
       FROM documents""",
)
def mm_gif_interlaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL four-pass interlaced GIF decode ([EXT] multimodal —
    graduates the last GIF seam, the `ipacked & 0x40` gate
    `operators/multimodal.py::_gif_walk_blocks` used to carry):
    per-document GIF payloads written in the appendix-E pass order with
    the interlace flag set, decoded by the stream-row → image-row
    permutation.  The gate is STRONGER than `mm_gif_features`' mean
    (every permutation preserves a mean): both sides decode through
    `pixel_md5_features`, so the interlaced GIF's pixel-array md5 must
    equal the PPM twin's byte-for-byte — a wrong pass stride or an
    off-by-one start row reorders rows and flips the digest, dropping
    rows and turning the driver red.  The synthesized 4–8-row canvases
    keep every pass boundary in play."""
    docs = t(spark, sf_dir, "documents")
    gif = multimodal.extract_binary_features(
        multimodal.attach_payload(
            docs, partial(multimodal.synthesize_gif, interlace=True), "image/gif"
        ),
        decoder=multimodal.pixel_md5_features,
        schema=multimodal.PIXEL_MD5_SCHEMA,
    )
    ppm = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm"),
        decoder=multimodal.pixel_md5_features,
        schema=multimodal.PIXEL_MD5_SCHEMA,
    ).select("doc_id", F.col("pixel_md5").alias("ppm_md5"))
    return (
        gif.join(ppm, "doc_id")
        .filter(F.col("pixel_md5") == F.col("ppm_md5"))
        .select("doc_id", "format", "width", "height", "channels")
    )

@register(
    "mm_png_subbyte_family",
    """SELECT v.variant, doc_id,
              'png' AS format,
              CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
              CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS height,
              CAST(1 AS INTEGER) AS channels
       FROM documents
       CROSS JOIN (SELECT unnest(['adam7', 'progressive']) AS variant) v""",
)
def mm_png_subbyte_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL sub-byte-depth PNG decode, progressive + Adam7-interlaced in
    one tagged frame — the consolidation of
    `mm_png_subbyte` + `mm_png_subbyte_interlaced` under the retire-one
    policy (funding `mart_paired_curation`).  Progressive: per-document
    greyscale payloads at a per-document depth ∈ {1,2,4} (one row
    exercises all three packings), scanlines filtered at bpp=1 then
    unpacked MSB-first and presented at 8 bits via the exact integer
    scaling 255//(2**depth-1) (the 1/2/4-bit seam
    `operators/multimodal.py::_decode_png`).  Interlaced:
    the SAME payloads re-encoded with the interlace flag, every pass
    packed independently at its REDUCED width (PNG spec 8.2 — the
    4–8-pixel synthetic canvases make most pass widths differ from the
    image width, exactly where a shared-width packing bug corrupts the
    plane; `_png_deinterlace`).  Gate per variant: decoded pixel-array
    md5 equals the 8-bit quantized-PGM twin's byte-for-byte
    (`pixel_md5_features` — a wrong bit order, stride, scale factor, or
    pass REORDERING flips the digest; means would be permutation-
    invariant, so the digest is the honest check)."""
    docs = t(spark, sf_dir, "documents")
    pgm = multimodal.extract_binary_features(
        multimodal.attach_payload(
            docs, multimodal.synthesize_pgm_quantized, "image/pgm"
        ),
        decoder=multimodal.pixel_md5_features,
        schema=multimodal.PIXEL_MD5_SCHEMA,
    ).select("doc_id", F.col("pixel_md5").alias("pgm_md5"))
    out = None
    for variant, interlace in (("progressive", False), ("adam7", True)):
        png = multimodal.extract_binary_features(
            multimodal.attach_payload(
                docs,
                partial(multimodal.synthesize_png_subbyte, interlace=interlace),
                "image/png",
            ),
            decoder=multimodal.pixel_md5_features,
            schema=multimodal.PIXEL_MD5_SCHEMA,
        )
        part = (
            png.join(pgm, "doc_id")
            .filter(F.col("pixel_md5") == F.col("pgm_md5"))
            .select(
                F.lit(variant).alias("variant"),
                "doc_id",
                "format",
                "width",
                "height",
                "channels",
            )
        )
        out = part if out is None else out.unionByName(part)
    return out
