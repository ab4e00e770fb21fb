"""[EXT] JPEG codec (ITU-T T.81: baseline sequential DCT encode/decode,
PROGRESSIVE decode) in pure numpy — closes the last compressed-image
boundary behind `multimodal.decode_image`'s seam.

Scope, declared precisely:

* ENCODE: 8-bit RGB/greyscale → baseline JFIF: BT.601 YCbCr, 8×8
  orthonormal DCT, IJG quality-scaled quantization, canonical Huffman
  tables EMBEDDED IN THE FILE (fixed-length canonical sets — legal
  baseline JPEG; Annex K's tables are merely the spec's *example*), MSB
  bitstream with 0xFF byte stuffing.  ``subsampling="444"`` (default,
  the lossless-chroma choice) or ``"420"`` (2×2 box-averaged chroma —
  the web-corpus default); optional ``restart_interval`` emits DRI +
  RSTn markers with byte-aligned 1-padding and DC-predictor resets.
  No progressive.
* DECODE: any baseline sequential JPEG with integer-ratio sampling
  factors — 4:4:4, 4:2:0, 4:2:2, 4:4:0, both interleaved (one scan)
  and non-interleaved (one scan per component, each walking its own
  data-unit grid per A.2.2) layouts decode; chroma is
  box-replicated back to full resolution (the standard simple
  upsampling).  DRI/RSTn restart intervals are honored: the bit reader
  byte-aligns at each interval, verifies the RSTn modulo-8 sequence,
  and resets the DC predictors (T.81 §F.2.1.3.1).  Tables are read
  from the file as the spec requires, so files from other encoders
  decode too.  PROGRESSIVE (SOF2) inputs decode via coefficient
  accumulation across scans — DC first/refine, AC spectral-selection
  bands with EOB runs, AC successive-approximation refinement (Annex
  G; VERDICT r8 #7: the majority encoding of modern web JPEGs).
  SOF1 extended-sequential frames decode through the baseline path
  (at 8-bit precision the two differ only in the table-count limits
  baseline imposes), 16-bit DQT entries (Pq=1, big-endian per
  B.2.4.1) are read for real, and 12-bit sample precision decodes
  under SOF1/SOF2 (level shift 2048, samples presented raw at file
  depth as uint16 — the 16-bit-PNG convention; SOF0 claiming 12-bit
  is a spec violation and a ValueError).
  SOF3 LOSSLESS (Annex H) decodes for real: Huffman-coded prediction
  differences mod 2^16 over the seven predictors, point transform,
  precisions 2..16, interleaved or one-scan-per-component — components
  present RAW (T.81 defines no color transform for lossless), uint8/
  uint16 at file depth.
  ARITHMETIC coding (the QM coder of Annexes D + F) decodes for BOTH
  DCT processes — sequential SOF9 (also encodes:
  ``encode_jpeg(arithmetic=True)``) and PROGRESSIVE SOF10 (DC
  first/refine, AC band first/refine in the successive-approximation
  domain over the shared coefficient store) — 8/12-bit, any
  integer-ratio subsampling, interleaved or one-scan-per-component,
  DRI/RSTn with per-restart statistics reset, DAC conditioning
  honored.  Arithmetic-lossless (0xCB) and hierarchical inputs raise
  ``NotImplementedError`` with the boundary named; lossless limits:
  1x1 sampling factors and no restart intervals (both named).

Conformance evidence: GIF's decoder is pinned to a public byte vector;
JPEG is pinned to a SPEC-DERIVED vector instead — a byte-literal file
hand-assembled in tests/test_multimodal.py from ITU-T T.81 Annex K's
published example tables (K.1 quantization, K.3 DC / K.5 AC Huffman)
whose entropy stream and exact integer decode are derived step-by-step
in the test, so the decoder is checked against spec-published tables,
not against this module's own encoder.  The QM arithmetic coder is
pinned the same way twice over: a 4-decision vector worked through the
CODELPS/CODEMPS/RENORME/FLUSH flowcharts by hand, plus the 256-bit
ITU-T T.81 §K.4 test sequence whose 29 coded bytes the coder
reproduces exactly.  On top of that: (a) strict
structural parsing of the marker stream, (b) encode→decode round-trip
error bounded by the quantization step (tested: ≤1 grey level on
constant blocks at quality 95, small RMSE on smooth gradients), and
(c) the driver gate comparing decoded means against the lossless PPM
path within the lossy tolerance.  JPEG is LOSSY by design — bit-exact
pixel recovery is not a correct expectation and is not claimed.
"""

from __future__ import annotations

import struct

import numpy as np

# ----------------------------------------------------------- constants

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

_Q_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)
_Q_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.float64,
)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 50 → the base table, higher → finer."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    s = 5000 / quality if quality < 50 else 200 - 2 * quality
    q = np.floor((table * s + 50) / 100)
    return np.clip(q, 1, 255)


def _dct_matrix() -> np.ndarray:
    c = np.zeros((8, 8))
    for u in range(8):
        a = np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8)
        for x in range(8):
            c[u, x] = a * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


_C = _dct_matrix()

# Canonical fixed-length Huffman sets (embedded in the file — legal
# baseline tables; simpler than Annex K's examples and equally valid):
# DC: the 12 size categories as 4-bit codes; AC: all 162 (run, size)
# symbols plus EOB/ZRL as 8-bit codes, ascending symbol order.
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = sorted(
    [0x00, 0xF0]
    + [(run << 4) | size for run in range(16) for size in range(1, 11)]
)
_DC_BITS = [0] * 16
_DC_BITS[3] = 12  # twelve 4-bit codes
_AC_BITS = [0] * 16
_AC_BITS[7] = 162  # 162 8-bit codes


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) per the spec's canonical generation."""
    out: dict[int, tuple[int, int]] = {}
    code, idx = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[idx]] = (code, length)
            idx += 1
            code += 1
        code <<= 1
    return out


_DC_CODES = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_SYMBOLS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def restart(self, n: int) -> None:
        """Byte-align with 1-padding and emit RSTn (the pad byte is
        entropy data, so a resulting 0xFF is still stuffed; the marker
        bytes themselves are raw)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n & 7)])

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, value bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _quantize_block(block: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Level-shift + DCT + quantize one 8x8 block → zigzag coefficients
    (shared by the Huffman and arithmetic entropy back-ends)."""
    coef = _C @ (block - 128.0) @ _C.T
    return np.round(coef / q).astype(np.int64).ravel()[_ZIGZAG]


def _encode_block(
    bw: _BitWriter, block: np.ndarray, q: np.ndarray, pred: int
) -> int:
    zz = _quantize_block(block, q)
    dc = int(zz[0])
    size, bits = _magnitude(dc - pred)
    code, length = _DC_CODES[size]
    bw.write(code, length)
    if size:
        bw.write(bits, size)
    run = 0
    for v in zz[1:]:
        if v == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = _AC_CODES[0xF0]  # ZRL: sixteen zeros
            bw.write(zc, zl)
            run -= 16
        size, bits = _magnitude(int(v))
        ac, al = _AC_CODES[(run << 4) | size]
        bw.write(ac, al)
        bw.write(bits, size)
        run = 0
    if run:
        ec, el = _AC_CODES[0x00]  # EOB
        bw.write(ec, el)
    return dc


def _dht_segment(tc_th: int, bits: list[int], symbols: list[int]) -> bytes:
    body = bytes([tc_th]) + bytes(bits) + bytes(symbols)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 95,
    subsampling: str = "444",
    restart_interval: int = 0,
    arithmetic: bool = False,
) -> bytes:
    """Baseline JFIF encoder (RGB HxWx3 or greyscale HxW).

    ``subsampling``: ``"444"`` (chroma at full resolution) or ``"420"``
    (chroma 2×2 box-averaged, luma sampling factor 2×2 — the MCU walk
    interleaves 4 luma + 1 Cb + 1 Cr blocks per 16×16 MCU).
    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker
    every that many MCUs (byte-aligned, DC predictors reset).
    ``arithmetic=True`` swaps the entropy back-end for the QM arithmetic
    coder (SOF9 + DAC with default conditioning L=0/U=1/Kx=5 instead of
    SOF0 + DHT; same DCT/quantization, typically ~10% smaller output) —
    restarts flush the coder and reset the conditioning statistics per
    T.81 F.1.4.1.
    """
    arr = np.asarray(pixels, dtype=np.uint8)
    grey = arr.ndim == 2
    if not grey and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError(f"expected HxW or HxWx3 uint8 array, got {arr.shape}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling must be '444' or '420', got {subsampling!r}")
    sub = subsampling == "420" and not grey
    h, w = arr.shape[:2]
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
    qtables = [q_luma] if grey else [q_luma, q_chroma]
    # pad to MCU multiples by edge replication (8 for 1x1, 16 for 2x2 luma)
    mcu = 16 if sub else 8
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    planes = [
        np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes
    ]
    if sub:
        # chroma: 2x2 box average over the padded plane (dims ph/2 x pw/2,
        # 8-multiples by construction)
        planes[1:] = [
            p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            for p in planes[1:]
        ]
    # per-component (blocks-per-MCU-y, blocks-per-MCU-x, qtable)
    layout = [(2, 2, q_luma), (1, 1, q_chroma), (1, 1, q_chroma)] if sub else [
        (1, 1, q_luma if ci == 0 else q_chroma) for ci in range(len(planes))
    ]
    bw = _BitWriter()
    arith_enc = _ArithEncoder() if arithmetic else None
    arith_stats = _ArithStats(len(planes)) if arithmetic else None
    arith_parts = bytearray()
    preds = [0] * len(planes)
    mcu_idx = 0
    for my in range(0, ph // mcu):
        for mx in range(0, pw // mcu):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                n = (mcu_idx // restart_interval - 1) % 8
                if arithmetic:
                    arith_parts += arith_enc.flush()
                    arith_parts += bytes([0xFF, 0xD0 + n])
                    arith_enc = _ArithEncoder()
                    arith_stats.reset()
                else:
                    bw.restart(n)
                    preds = [0] * len(planes)
            for ci, plane in enumerate(planes):
                vi, hi, q = layout[ci]
                tb = 0 if ci == 0 else 1
                for v in range(vi):
                    for hh in range(hi):
                        y0 = my * 8 * vi + v * 8
                        x0 = mx * 8 * hi + hh * 8
                        block = plane[y0 : y0 + 8, x0 : x0 + 8]
                        if arithmetic:
                            _arith_encode_block(
                                arith_enc, arith_stats, ci, tb, tb,
                                (0, 1), 5, _quantize_block(block, q),
                            )
                        else:
                            preds[ci] = _encode_block(bw, block, q, preds[ci])
            mcu_idx += 1
    scan = bytes(arith_parts) + arith_enc.flush() if arithmetic else bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for ti, q in enumerate(qtables):
        zz = q.ravel()[_ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti]) + zz
    ncomp = 1 if grey else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sampling = 0x22 if (sub and ci == 0) else 0x11
        sof += bytes([ci + 1, sampling, 0 if ci == 0 else 1])
    sof_marker = b"\xff\xc9" if arithmetic else b"\xff\xc0"
    out += sof_marker + struct.pack(">H", len(sof) + 2) + sof
    if arithmetic:
        # DAC: default conditioning, stated explicitly (DC L=0/U=1 →
        # Cs=0x10; AC Kx=5) for every table id in use
        dac = bytes([0x00, 0x10, 0x10, 0x05])
        if not grey:
            dac += bytes([0x01, 0x10, 0x11, 0x05])
        out += b"\xff\xcc" + struct.pack(">H", len(dac) + 2) + dac
    else:
        out += _dht_segment(0x00, _DC_BITS, _DC_SYMBOLS)
        out += _dht_segment(0x10, _AC_BITS, _AC_SYMBOLS)
        if not grey:
            out += _dht_segment(0x01, _DC_BITS, _DC_SYMBOLS)
            out += _dht_segment(0x11, _AC_BITS, _AC_SYMBOLS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream exhausted")
        byte = self.data[self.pos]
        self.pos += 1
        if byte == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else None
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                # a restart marker is only legal AT a declared interval
                # boundary, where consume_restart eats it proactively
                raise ValueError(
                    "unexpected RSTn inside entropy data (marker not at the "
                    "declared DRI interval, or DRI segment missing)"
                )
            else:
                raise ValueError("unexpected marker inside entropy data")
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def consume_restart(self) -> int:
        """Discard pad bits to the byte boundary, consume the expected
        RSTn marker, and return n (T.81 §F.2.1.3.1: entropy data is
        1-padded to a byte boundary before each restart marker)."""
        self.acc = 0
        self.nbits = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected RSTn marker at restart interval")
        n = self.data[self.pos + 1] - 0xD0
        self.pos += 2
        return n


def _decode_huffman(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _decode_block(
    br: _BitReader,
    dc_tab: dict[tuple[int, int], int],
    ac_tab: dict[tuple[int, int], int],
    q: np.ndarray,
    pred: int,
    mid: float = 128.0,
) -> tuple[int, np.ndarray]:
    """Decode one 8×8 block; returns (new DC predictor, spatial block).
    ``mid`` is the inverse level shift — 2^(P−1) for sample precision P."""
    zz = np.zeros(64, dtype=np.float64)
    size = _decode_huffman(br, dc_tab)
    diff = _extend(br.read_bits(size), size)
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        sym = _decode_huffman(br, ac_tab)
        if sym == 0x00:  # EOB
            break
        run, s = sym >> 4, sym & 0x0F
        if sym == 0xF0:
            k += 16
            continue
        k += run
        if k >= 64:
            raise ValueError("JPEG AC index overrun")
        zz[k] = _extend(br.read_bits(s), s)
        k += 1
    coef = np.zeros(64)
    coef[_ZIGZAG] = zz
    return pred, _C.T @ (coef.reshape(8, 8) * q) @ _C + mid


def _decode_dc_first(br, dc_tab, pred):
    size = _decode_huffman(br, dc_tab)
    pred += _extend(br.read_bits(size), size)
    return pred  # coefficient is pred << al, applied by the caller


def _decode_ac_first(br, ac_tab, zz, ss, se, al, eobrun):
    """AC first scan for one block's band (T.81 §G.1.2.2); returns the
    updated EOB run (an EOBn symbol ends 2^r-1+bits FOLLOWING blocks'
    bands too, so the run must thread across block calls)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _decode_huffman(br, ac_tab)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zero coefficients
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("JPEG progressive AC index overrun")
        zz[k] = _extend(br.read_bits(s), s) << al
        k += 1
    return eobrun


def _refine_nonzero(br, zz, k, p1, m1):
    """Refinement bit for an already-nonzero coefficient (§G.1.2.3):
    a 1-bit adds 2^Al toward the coefficient's sign if that bit is not
    already set."""
    if br.read_bit():
        if zz[k] > 0 and not (zz[k] & p1):
            zz[k] += p1
        elif zz[k] < 0 and not (-zz[k] & p1):
            zz[k] += m1


def _decode_ac_refine(br, ac_tab, zz, ss, se, al, eobrun):
    """AC refinement scan for one block's band (T.81 §G.1.2.3)."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _decode_huffman(br, ac_tab)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r < 15:  # EOBn: refine the rest of the band, then run
                    # NOT pre-decremented (unlike the first-scan rule):
                    # the tail below refines the CURRENT block's
                    # remainder and consumes one unit of the run
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read_bits(r)
                    break
                newval = 0  # ZRL: skip 16 zero-HISTORY coefficients
            else:
                if s != 1:
                    raise ValueError("JPEG AC refinement size != 1")
                newval = p1 if br.read_bit() else m1
            # advance past r zero-history coefficients, emitting a
            # refinement bit for every nonzero-history one passed over
            while k <= se:
                if zz[k] != 0:
                    _refine_nonzero(br, zz, k, p1, m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                zz[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0:
                _refine_nonzero(br, zz, k, p1, m1)
            k += 1
        eobrun -= 1
    return eobrun


def _finish_image(
    planes: list, comps, hmax: int, vmax: int, h: int, w: int,
    precision: int = 8,
) -> np.ndarray:
    """Shared decoder tail: replicate subsampled planes to full
    resolution, crop the MCU padding, and color-convert — ONE copy of
    the upsample/crop/BT.601 constants, so the baseline and progressive
    paths stay bit-identical by construction (r9 self-review)."""
    full = []
    for pi, (_cid, hi, vi, _tq) in enumerate(comps):
        p = planes[pi]
        if vi != vmax:
            p = p.repeat(vmax // vi, axis=0)
        if hi != hmax:
            p = p.repeat(hmax // hi, axis=1)
        full.append(p[:h, :w])
    mid = float(1 << (precision - 1))
    maxv = (1 << precision) - 1
    dtype = np.uint8 if precision == 8 else np.uint16
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, maxv).astype(dtype)
    y, cb, cr = full
    r = y + 1.402 * (cr - mid)
    g = y - 0.344136 * (cb - mid) - 0.714136 * (cr - mid)
    b = y + 1.772 * (cb - mid)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, maxv).astype(dtype)


def _decode_progressive_scan(
    data: bytes,
    frame,
    coef_store: dict[int, np.ndarray],
    huff,
    scan_order: list[int],
    scan_tables: dict[int, tuple[int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart_interval: int,
) -> int:
    """Decode ONE progressive scan's entropy data into the coefficient
    store; returns the number of entropy bytes consumed.

    T.81 Annex G scan taxonomy, all four decoded:
    * DC first (Ss=Se=0, Ah=0) — interleaved or single-component; the
      predictor chain runs in the successive-approximation domain and
      the stored coefficient is ``pred << Al``;
    * DC refinement (Ss=0, Ah>0) — one appended bit per block;
    * AC first (Ss>0, Ah=0) — single-component band [Ss..Se] with
      EOB-run symbols spanning blocks;
    * AC refinement (Ss>0, Ah>0) — correction bits (§G.1.2.3).

    Restart intervals reset DC predictors AND the EOB run, and count
    MCUs in interleaved scans / blocks in single-component scans.
    """
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    comp_by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("JPEG progressive DC scan must have Se=0")
    if not is_dc and len(scan_order) != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")
    if (not is_dc and ss > se) or se > 63:
        raise ValueError("bad spectral selection band")

    br = _BitReader(data)
    preds = {cid: 0 for cid in scan_order}
    eobrun = 0

    interleaved = len(scan_order) > 1
    if interleaved:
        n_units = mcux * mcuy
    else:
        cid0 = scan_order[0]
        hi, vi, _ = comp_by_id[cid0]
        # single-component scans cover the COMPONENT's blocks (no MCU
        # padding): ceil(comp_size / 8) per axis (T.81 §A.2.2)
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        bw = -(-cw // 8)
        bh = -(-ch // 8)
        n_units = bw * bh

    for idx in range(n_units):
        if restart_interval and idx and idx % restart_interval == 0:
            n = br.consume_restart()
            expect = (idx // restart_interval - 1) % 8
            if n != expect:
                raise ValueError(
                    f"RST{n} out of sequence (expected RST{expect})"
                )
            preds = {cid: 0 for cid in scan_order}
            eobrun = 0
        if interleaved:  # DC scan over full MCUs
            my, mx = divmod(idx, mcux)
            for cid in scan_order:
                hi, vi, _tq = comp_by_id[cid]
                td, _ta = scan_tables[cid]
                arr = coef_store[cid]
                for v in range(vi):
                    for hh in range(hi):
                        by, bx = my * vi + v, mx * hi + hh
                        if ah == 0:
                            preds[cid] = _decode_dc_first(
                                br, huff[(0, td)], preds[cid]
                            )
                            arr[by, bx, 0] = preds[cid] << al
                        else:
                            if br.read_bit():
                                arr[by, bx, 0] |= 1 << al
        else:
            cid = scan_order[0]
            arr = coef_store[cid]
            by, bx = divmod(idx, bw)
            if is_dc:
                td, _ta = scan_tables[cid]
                if ah == 0:
                    preds[cid] = _decode_dc_first(
                        br, huff[(0, td)], preds[cid]
                    )
                    arr[by, bx, 0] = preds[cid] << al
                else:
                    if br.read_bit():
                        arr[by, bx, 0] |= 1 << al
            else:
                _td, ta = scan_tables[cid]
                zz = arr[by, bx]  # 1-D int32 view; in-place updates land
                if ah == 0:
                    eobrun = _decode_ac_first(
                        br, huff[(1, ta)], zz, ss, se, al, eobrun
                    )
                else:
                    eobrun = _decode_ac_refine(
                        br, huff[(1, ta)], zz, ss, se, al, eobrun
                    )
    return br.pos


def _reconstruct_progressive(
    frame, coef_store: dict[int, np.ndarray], qtables: dict[int, np.ndarray],
    precision: int = 8,
) -> np.ndarray:
    """Dequantize + inverse-zigzag + IDCT the accumulated coefficient
    store and assemble the image — one vectorized einsum per component
    (the per-block loop of the sequential path would be numpy-slow at
    the block counts progressive web images carry)."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = []
    for cid, _hi, _vi, tq in comps:
        arr = coef_store[cid].astype(np.float64)
        by, bx = arr.shape[:2]
        nat = np.zeros_like(arr)
        nat[..., _ZIGZAG] = arr  # zigzag index k -> natural position
        blocks = nat.reshape(by, bx, 8, 8) * qtables[tq]
        # broadcast matmul, SAME associativity as the sequential path's
        # per-block `_C.T @ (coef*q) @ _C` — bit-identical floats, so a
        # baseline and a progressive encoding of the same coefficients
        # decode to the same pixels
        spatial = _C.T @ blocks @ _C + float(1 << (precision - 1))
        planes.append(spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8))
    return _finish_image(planes, comps, hmax, vmax, h, w, precision)


def _decode_lossless_samples(
    data: bytes,
    scan_comps: list[tuple[int, int]],
    huff: dict,
    w: int,
    h: int,
    precision: int,
    predictor: int,
    pt: int,
    planes: dict[int, np.ndarray],
) -> int:
    """T.81 Annex H lossless-process scan (1×1 sampling): Huffman-coded
    prediction differences, one sample per component per MCU in scan
    order.  Reconstruction is modulo 2^16 regardless of precision (H.1.2.1);
    the size-16 category carries no extra bits and means diff = 32768.
    First sample of the scan predicts from the default 2^(P−1−Pt); the
    rest of the first line from Ra, first column from Rb, everything
    else from the scan's selected predictor.  Returns entropy bytes
    consumed; reconstructed (pre-point-transform) samples land in
    ``planes``."""
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless predictor {predictor} out of range 1..7")
    br = _BitReader(data)
    default = 1 << (precision - 1 - pt)
    for y in range(h):
        for x in range(w):
            for cid, td in scan_comps:
                size = _decode_huffman(br, huff[(0, td)])
                if size == 16:  # no appended bits (H.2, Table H.2)
                    diff = 32768
                else:
                    diff = _extend(br.read_bits(size), size)
                plane = planes[cid]
                if y == 0 and x == 0:
                    p = default
                elif y == 0:
                    p = int(plane[0, x - 1])
                elif x == 0:
                    p = int(plane[y - 1, 0])
                else:
                    ra = int(plane[y, x - 1])
                    rb = int(plane[y - 1, x])
                    rc = int(plane[y - 1, x - 1])
                    p = (
                        ra, rb, rc,
                        ra + rb - rc,
                        ra + ((rb - rc) >> 1),
                        rb + ((ra - rc) >> 1),
                        (ra + rb) >> 1,
                    )[predictor - 1]
                plane[y, x] = (p + diff) % 65536
    return br.pos


# ---------------------------------------------------------------------------
# Arithmetic entropy coding (T.81 Annexes D + F, the QM coder) — the
# sequential arithmetic process (SOF9).  The probability state machine is
# transcribed from T.81 Table D.3 (public; the identical table appears in
# ITU-T T.82/JBIG): per row ``(Qe, NMPS, NLPS, switch)``.  Grounding: the
# coder flowcharts are pinned by a HAND-DERIVED spec vector (tests/ —
# four decisions worked through CODELPS/CODEMPS/RENORME/FLUSH by hand,
# byte-exact) plus encode→decode roundtrips over random images,
# restarts, 12-bit, and non-interleaved scans; the deep table rows are
# exercised by long random-decision roundtrips.  Residual risk named
# honestly: a transcription slip in a rarely-visited table row would
# roundtrip (both sides share the table) yet diverge from foreign
# encoders — cross-decode against a libjpeg-arithmetic file is the
# validation to run where one is available (none ships in this
# container).
# ---------------------------------------------------------------------------

_ARITH_TABLE: tuple[tuple[int, int, int, int], ...] = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 1), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1),
    # index 113: the fixed ~equiprobable bin (AC sign, F.1.4.3.1.1) —
    # never adapts, never switches.
    (0x5A1D, 113, 113, 0),
)


class _ArithEncoder:
    """QM arithmetic encoder (T.81 D.1 flowcharts: CODE0/CODE1 with
    conditional MPS/LPS exchange, RENORME byte output with carry
    propagation over stacked 0xFF bytes, 0xFF→0x00 stuffing, D.1.8/9
    FLUSH keeping the spec-optional trailing-zero truncation)."""

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.buffer = -1  # pipelined last byte (carry may still bump it)
        self.sc = 0  # stacked 0xFF bytes awaiting carry resolution
        self.out = bytearray()

    def _emit(self, byte: int) -> None:
        self.out.append(byte)
        if byte == 0xFF:
            self.out.append(0x00)  # B.1.1.5 stuffing

    def _byte_out(self) -> None:
        temp = self.c >> 19
        if temp > 0xFF:
            # carry ripples into the buffered byte and converts every
            # stacked 0xFF to 0x00
            if self.buffer >= 0:
                self._emit(self.buffer + 1)
            for _ in range(self.sc):
                self.out.append(0x00)
            self.sc = 0
            self.buffer = temp & 0xFF
        elif temp == 0xFF:
            self.sc += 1
        else:
            if self.buffer >= 0:
                self._emit(self.buffer)
            for _ in range(self.sc):
                self._emit(0xFF)
            self.sc = 0
            self.buffer = temp
        self.c &= 0x7FFFF

    def encode(self, stats: bytearray, i: int, bit: int) -> None:
        sv = stats[i]
        qe, nmps, nlps, switch = _ARITH_TABLE[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        if bit != mps:
            # CODELPS (conditional exchange when the MPS subinterval
            # came out smaller than Qe)
            if self.a >= qe:
                self.c += self.a
                self.a = qe
            stats[i] = ((mps ^ switch) << 7) | nlps
        else:
            # CODEMPS — fast path: no renormalization, no state change
            if self.a >= 0x8000:
                return
            if self.a < qe:
                self.c += self.a
                self.a = qe
            stats[i] = (mps << 7) | nmps
        while True:  # RENORME
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byte_out()
                self.ct = 8
            if self.a >= 0x8000:
                break

    def flush(self) -> bytes:
        """D.1.8/D.1.9 termination: choose the code value in the final
        interval with the most trailing zeros, push out the remaining
        bytes (final carry handled), drop trailing zero bytes (the
        spec-optional truncation both libjpeg and the Annex example
        apply)."""
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = temp + 0x8000 if temp < self.c else temp
        self.c <<= self.ct
        if self.c & 0xF8000000:
            if self.buffer >= 0:
                self._emit(self.buffer + 1)
            for _ in range(self.sc):
                self.out.append(0x00)
        else:
            if self.buffer >= 0:
                self._emit(self.buffer)
            for _ in range(self.sc):
                self._emit(0xFF)
        self.sc = 0
        self.buffer = -1
        if self.c & 0x7FFF800:
            b1 = (self.c >> 19) & 0xFF
            self._emit(b1)
            if self.c & 0x7F800:
                self._emit((self.c >> 11) & 0xFF)
        return bytes(self.out)


class _ArithDecoder:
    """QM arithmetic decoder (T.81 D.2 flowcharts, lazy-renormalization
    formulation: input bytes accumulate at the low end of C and ``ct``
    tracks the spare bit count, so DECODE aligns A against C with one
    shift).  0xFF 0x00 unstuffs to a 0xFF data byte; a real marker stops
    consumption and the decoder feeds zero bytes from then on (legal per
    D.2.2 — the flush discards compressed trailing zeros)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.a = 0
        self.c = 0
        self.ct = -16  # forces the two INITDEC byte loads
        self.marker_hit = False

    def _next_byte(self) -> int:
        if self.marker_hit or self.pos >= len(self.data):
            return 0
        b = self.data[self.pos]
        if b != 0xFF:
            self.pos += 1
            return b
        nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
        if nxt == 0x00:
            self.pos += 2  # stuffed: 0xFF is data
            return 0xFF
        # a true marker terminates the entropy segment; zeros feed from
        # here (self.pos stays ON the marker for the outer walk/restart)
        self.marker_hit = True
        return 0

    def decode(self, stats: bytearray, i: int) -> int:
        # renormalization + byte feeding (D.2.6)
        while self.a < 0x8000:
            self.ct -= 1
            if self.ct < 0:
                self.c = ((self.c << 8) | self._next_byte()) & 0xFFFFFFFF
                self.ct += 8
                if self.ct < 0:
                    self.ct += 1
                    if self.ct == 0:
                        self.a = 0x8000  # two init bytes in: A -> 0x10000
            self.a <<= 1
        sv = stats[i]
        qe, nmps, nlps, switch = _ARITH_TABLE[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        aligned = self.a << self.ct
        if self.c >= aligned:
            # code value in the upper (nominal-LPS) subinterval
            self.c -= aligned
            if self.a < qe:  # conditional exchange: upper belongs to MPS
                self.a = qe
                stats[i] = (mps << 7) | nmps
                return mps
            self.a = qe
            stats[i] = ((mps ^ switch) << 7) | nlps
            return 1 - mps
        if self.a < 0x8000:
            if self.a < qe:  # conditional exchange: lower belongs to LPS
                stats[i] = ((mps ^ switch) << 7) | nlps
                return 1 - mps
            stats[i] = (mps << 7) | nmps
            return mps
        return mps  # fast path: no renorm, no estimation update

    def restart(self) -> int:
        """Consume the RSTn marker the stream stalled on and re-init the
        coder registers (conditioning stats reset is the caller's job —
        F.1.4.1: statistics are reset at every restart)."""
        if not self.marker_hit:
            # entropy decisions may not have consumed up to the marker;
            # skip pad bytes (stuffed 0xFF 0x00 pairs cannot appear as
            # padding, so scan for the bare marker)
            while (
                self.pos + 1 < len(self.data)
                and not (
                    self.data[self.pos] == 0xFF
                    and self.data[self.pos + 1] != 0x00
                )
            ):
                self.pos += 1
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected RSTn marker at restart interval")
        n = self.data[self.pos + 1] - 0xD0
        self.pos += 2
        self.a = 0
        self.c = 0
        self.ct = -16
        self.marker_hit = False
        return n

    def consumed(self) -> int:
        """Entropy bytes consumed (exclusive of any terminating marker)."""
        return self.pos


class _ArithStats:
    """Per-scan conditioning state (T.81 F.1.4.4): DC/AC statistics bins
    per conditioning-table id, plus per-component DC prediction context.
    Reset at scan start and at every restart."""

    def __init__(self, n_components: int) -> None:
        self.dc: dict[int, bytearray] = {}
        self.ac: dict[int, bytearray] = {}
        self.fixed = bytearray([113])  # non-adaptive AC-sign bin
        self.dc_context = [0] * n_components
        self.last_dc = [0] * n_components

    def reset(self) -> None:
        for b in self.dc.values():
            b[:] = bytes(len(b))
        for b in self.ac.values():
            b[:] = bytes(len(b))
        self.fixed[0] = 113
        self.dc_context = [0] * len(self.dc_context)
        self.last_dc = [0] * len(self.last_dc)

    def dc_bins(self, table: int) -> bytearray:
        return self.dc.setdefault(table, bytearray(64))

    def ac_bins(self, table: int) -> bytearray:
        return self.ac.setdefault(table, bytearray(256))


def _arith_decode_dc(dec, st, ci, stats: _ArithStats, cond) -> int:
    """One DC difference (T.81 F.2.2.1 / Figures F.19–F.24)."""
    low, up = cond
    ctx = stats.dc_context[ci]
    if dec.decode(st, ctx) == 0:
        stats.dc_context[ci] = 0
        return 0
    sign = dec.decode(st, ctx + 1)
    m = dec.decode(st, ctx + 2 + sign)
    pos = ctx + 2 + sign
    if m:
        pos = 20  # X1 (Table F.4)
        while dec.decode(st, pos):
            m <<= 1
            if m == 0x8000:
                raise ValueError("corrupt arithmetic DC magnitude")
            pos += 1
    # conditioning category for the NEXT block (F.1.4.4.1.2)
    if m < (1 << low) >> 1:
        stats.dc_context[ci] = 0
    elif m > (1 << up) >> 1:
        stats.dc_context[ci] = 12 + 4 * sign
    else:
        stats.dc_context[ci] = 4 + 4 * sign
    v = m
    pos += 14  # magnitude-bit bin (one shared bin per category)
    while m > 1:
        m >>= 1
        if dec.decode(st, pos):
            v |= m
    v += 1
    return -v if sign else v


def _arith_decode_block(
    dec, stats: _ArithStats, ci, dc_table, ac_table, dc_cond, kx
) -> np.ndarray:
    """One 8x8 block of quantized coefficients in zigzag order."""
    zz = np.zeros(64, dtype=np.int64)
    diff = _arith_decode_dc(dec, stats.dc_bins(dc_table), ci, stats, dc_cond)
    stats.last_dc[ci] += diff
    zz[0] = stats.last_dc[ci]
    st = stats.ac_bins(ac_table)
    k = 1
    while k <= 63:
        base = 3 * (k - 1)
        if dec.decode(st, base):  # EOB
            break
        while dec.decode(st, base + 1) == 0:
            base += 3
            k += 1
            if k > 63:
                raise ValueError("corrupt arithmetic AC run")
        sign = dec.decode(stats.fixed, 0)
        m = dec.decode(st, base + 2)
        pos = base + 2
        if m:
            if dec.decode(st, pos):
                m <<= 1
                pos = 189 if k <= kx else 217
                while dec.decode(st, pos):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("corrupt arithmetic AC magnitude")
                    pos += 1
        v = m
        pos += 14
        while m > 1:
            m >>= 1
            if dec.decode(st, pos):
                v |= m
        v += 1
        zz[k] = -v if sign else v
        k += 1
    return zz


def _arith_encode_dc(enc, st, ci, stats: _ArithStats, cond, diff) -> None:
    low, up = cond
    ctx = stats.dc_context[ci]
    if diff == 0:
        enc.encode(st, ctx, 0)
        stats.dc_context[ci] = 0
        return
    enc.encode(st, ctx, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(st, ctx + 1, sign)
    sz = (-diff if sign else diff) - 1
    pos = ctx + 2 + sign
    m = 0
    if sz:
        enc.encode(st, pos, 1)
        m = 1
        v2 = sz
        pos = 20
        while v2 >> 1:
            v2 >>= 1
            enc.encode(st, pos, 1)
            m <<= 1
            pos += 1
    enc.encode(st, pos, 0)
    if m < (1 << low) >> 1:
        stats.dc_context[ci] = 0
    elif m > (1 << up) >> 1:
        stats.dc_context[ci] = 12 + 4 * sign
    else:
        stats.dc_context[ci] = 4 + 4 * sign
    pos += 14
    while m > 1:
        m >>= 1
        enc.encode(st, pos, 1 if sz & m else 0)


def _arith_encode_block(
    enc, stats: _ArithStats, ci, dc_table, ac_table, dc_cond, kx, zz
) -> None:
    diff = int(zz[0]) - stats.last_dc[ci]
    stats.last_dc[ci] = int(zz[0])
    _arith_encode_dc(enc, stats.dc_bins(dc_table), ci, stats, dc_cond, diff)
    st = stats.ac_bins(ac_table)
    ke = 63
    while ke > 0 and zz[ke] == 0:
        ke -= 1
    k = 1
    while k <= ke:
        base = 3 * (k - 1)
        enc.encode(st, base, 0)  # not EOB yet
        while zz[k] == 0:
            enc.encode(st, base + 1, 0)
            base += 3
            k += 1
        enc.encode(st, base + 1, 1)
        v = int(zz[k])
        sign = 1 if v < 0 else 0
        enc.encode(stats.fixed, 0, sign)
        sz = (-v if sign else v) - 1
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
                pos = 189 if k <= kx else 217
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
    if ke < 63:
        enc.encode(st, 3 * (k - 1), 1)  # EOB


def _arith_decode_progressive_scan(
    data: bytes,
    frame,
    coef_store: dict[int, np.ndarray],
    scan_order: list[int],
    scan_tables: dict[int, tuple[int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    dc_cond,
    ac_kx,
    restart_interval: int,
    stats: _ArithStats,
) -> int:
    """Decode ONE arithmetic-progressive scan (SOF10, T.81 G.2 with the
    Annex F conditioning models) into the coefficient store; returns
    entropy bytes consumed.

    Scan taxonomy mirrors the Huffman progressive path:
    * DC first (Ah=0): the sequential DC model run in the
      successive-approximation domain — the predictor chain and the
      conditioning categories see the Al-shifted values; stored
      coefficient is ``value << Al``.
    * DC refinement: ONE fixed-bin decision per block appends bit Al.
    * AC first: the sequential AC model over band [Ss..Se] (per-block
      EOB decision — arithmetic coding has no cross-block EOB runs),
      values stored ``<< Al``.
    * AC refinement (G.1.2.3 arithmetic form): per k, previously-nonzero
      coefficients take a correction-bit decision at the triplet's +2
      bin; zero positions take the newly-nonzero decision at +1 with a
      fixed-bin sign; the EOB decision is asked only past the previous
      scan's EOB position (kex).

    Restart intervals reset the coder AND the conditioning statistics
    (F.1.4.1) and count MCUs / blocks like the Huffman path.
    """
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    comp_by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
    comp_idx = {c[0]: i for i, c in enumerate(comps)}
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("JPEG progressive DC scan must have Se=0")
    if not is_dc and len(scan_order) != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")
    if (not is_dc and ss > se) or se > 63:
        raise ValueError("bad spectral selection band")

    dec = _ArithDecoder(data)
    interleaved = len(scan_order) > 1
    if interleaved:
        n_units = mcux * mcuy
    else:
        cid0 = scan_order[0]
        hi, vi, _ = comp_by_id[cid0]
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        bw = -(-cw // 8)
        bh = -(-ch // 8)
        n_units = bw * bh

    def dc_first(cid, arr, by, bx):
        td, _ta = scan_tables[cid]
        ci = comp_idx[cid]
        diff = _arith_decode_dc(
            dec, stats.dc_bins(td), ci, stats, dc_cond.get(td, (0, 1))
        )
        stats.last_dc[ci] += diff
        arr[by, bx, 0] = stats.last_dc[ci] << al

    def ac_first(zz):
        _td, ta = scan_tables[scan_order[0]]
        st = stats.ac_bins(ta)
        kx = ac_kx.get(ta, 5)
        k = ss
        while k <= se:
            base = 3 * (k - 1)
            if dec.decode(st, base):  # per-block EOB
                break
            while dec.decode(st, base + 1) == 0:
                base += 3
                k += 1
                if k > se:
                    raise ValueError("corrupt arithmetic AC run")
            sign = dec.decode(stats.fixed, 0)
            m = dec.decode(st, base + 2)
            pos = base + 2
            if m:
                if dec.decode(st, pos):
                    m <<= 1
                    pos = 189 if k <= kx else 217
                    while dec.decode(st, pos):
                        m <<= 1
                        if m == 0x8000:
                            raise ValueError(
                                "corrupt arithmetic AC magnitude"
                            )
                        pos += 1
            v = m
            pos += 14
            while m > 1:
                m >>= 1
                if dec.decode(st, pos):
                    v |= m
            v += 1
            zz[k] = (-v if sign else v) << al
            k += 1

    def ac_refine(zz):
        _td, ta = scan_tables[scan_order[0]]
        st = stats.ac_bins(ta)
        p1 = 1 << al
        m1 = -1 << al
        kex = se
        while kex >= ss and (int(zz[kex]) >> ah if zz[kex] >= 0
                             else (-int(zz[kex])) >> ah) == 0:
            kex -= 1
        k = ss
        while k <= se:
            base = 3 * (k - 1)
            if k > kex and dec.decode(st, base):  # EOB decision
                break
            while True:
                coef = int(zz[k])
                if coef:
                    if dec.decode(st, base + 2):
                        zz[k] = coef + (m1 if coef < 0 else p1)
                    break
                if dec.decode(st, base + 1):
                    zz[k] = m1 if dec.decode(stats.fixed, 0) else p1
                    break
                base += 3
                k += 1
                if k > se:
                    raise ValueError("corrupt arithmetic AC refinement")
            k += 1

    for idx in range(n_units):
        if restart_interval and idx and idx % restart_interval == 0:
            n = dec.restart()
            expect = (idx // restart_interval - 1) % 8
            if n != expect:
                raise ValueError(
                    f"RST{n} out of sequence (expected RST{expect})"
                )
            stats.reset()
        if interleaved:  # DC scan over full MCUs
            my, mx = divmod(idx, mcux)
            for cid in scan_order:
                hi, vi, _tq = comp_by_id[cid]
                arr = coef_store[cid]
                for v in range(vi):
                    for hh in range(hi):
                        by, bx = my * vi + v, mx * hi + hh
                        if ah == 0:
                            dc_first(cid, arr, by, bx)
                        elif dec.decode(stats.fixed, 0):
                            arr[by, bx, 0] |= 1 << al
        else:
            cid = scan_order[0]
            arr = coef_store[cid]
            by, bx = divmod(idx, bw)
            if is_dc:
                if ah == 0:
                    dc_first(cid, arr, by, bx)
                elif dec.decode(stats.fixed, 0):
                    arr[by, bx, 0] |= 1 << al
            else:
                zz = arr[by, bx]
                if ah == 0:
                    ac_first(zz)
                else:
                    ac_refine(zz)
    return dec.consumed()


def _arith_decode_scan(
    data: bytes,
    frame,
    scan_order,
    scan_tables,
    qtables,
    dc_cond,
    ac_kx,
    restart_interval,
    sample_bits,
    seq_planes,
    stats: _ArithStats,
) -> int:
    """Sequential arithmetic scan (SOF9): interleaved MCU walk when the
    scan carries every frame component, single-component raster walk
    otherwise (same T.81 A.2 grids as the Huffman path).  Dequantized
    spatial blocks land in ``seq_planes``; returns bytes consumed."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    level = float(1 << (sample_bits - 1))
    dec = _ArithDecoder(data)
    comp_idx = {c[0]: i for i, c in enumerate(comps)}

    def block_to_plane(cid, zz, y0, x0):
        _cid, _hi, _vi, tq = comps[comp_idx[cid]]
        quant = np.zeros(64)
        quant[_ZIGZAG] = zz
        spatial = _C.T @ (quant.reshape(8, 8) * qtables[tq]) @ _C + level
        seq_planes[cid][y0 : y0 + 8, x0 : x0 + 8] = spatial

    if len(scan_order) == len(comps) and len(comps) > 1:
        # interleaved MCU walk; Ns == 1 always takes the non-interleaved
        # ceil-grid walk below (T.81 A.2.2), whatever the frame declares
        mcu_idx = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if (
                    restart_interval
                    and mcu_idx
                    and mcu_idx % restart_interval == 0
                ):
                    n = dec.restart()
                    expect = (mcu_idx // restart_interval - 1) % 8
                    if n != expect:
                        raise ValueError(
                            f"RST{n} out of sequence (expected RST{expect})"
                        )
                    stats.reset()
                for cid in scan_order:
                    ci = comp_idx[cid]
                    _cid, hi, vi, _tq = comps[ci]
                    td, ta = scan_tables[cid]
                    for v in range(vi):
                        for hh in range(hi):
                            zz = _arith_decode_block(
                                dec, stats, ci, td, ta,
                                dc_cond.get(td, (0, 1)), ac_kx.get(ta, 5),
                            )
                            block_to_plane(
                                cid, zz, my * 8 * vi + v * 8,
                                mx * 8 * hi + hh * 8,
                            )
                mcu_idx += 1
        return dec.consumed()
    if len(scan_order) != 1:
        raise NotImplementedError(
            "partially-interleaved arithmetic scan (1 < Ns < Nf)"
        )
    cid = scan_order[0]
    ci = comp_idx[cid]
    _cid, hi, vi, _tq = comps[ci]
    bx = -(-(-(-w * hi // hmax)) // 8)
    by = -(-(-(-h * vi // vmax)) // 8)
    td, ta = scan_tables[cid]
    for unit in range(by * bx):
        if restart_interval and unit and unit % restart_interval == 0:
            n = dec.restart()
            expect = (unit // restart_interval - 1) % 8
            if n != expect:
                raise ValueError(
                    f"RST{n} out of sequence (expected RST{expect})"
                )
            stats.reset()
        zz = _arith_decode_block(
            dec, stats, ci, td, ta, dc_cond.get(td, (0, 1)),
            ac_kx.get(ta, 5),
        )
        block_to_plane(cid, zz, (unit // bx) * 8, (unit % bx) * 8)
    return dec.consumed()


def sos_offset(payload: bytes) -> int:
    """Byte offset of the first SOS (0xFFDA) marker, found by walking the
    marker stream segment-by-segment — every non-SOI/EOI/RSTn/TEM marker
    carries a 2-byte big-endian segment length, so the walk can never be
    fooled by an 0xFF 0xDA byte pair inside a preceding segment body
    (possible in DQT/DHT tables at other qualities — the r13 ADVICE
    hazard of a raw ``payload.index(b"\\xff\\xda")`` search)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    i = 2
    while i + 2 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected a marker at offset {i}")
        # optional 0xFF fill bytes before the marker code (T.81 B.1.1.2)
        while payload[i + 1] == 0xFF:
            i += 1
        marker = payload[i + 1]
        if marker == 0xDA:
            return i
        if marker in (0xD8, 0xD9, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone marker, no segment body
            continue
        if i + 4 > len(payload):
            break
        i += 2 + struct.unpack(">H", payload[i + 2 : i + 4])[0]
    raise ValueError("no SOS marker in payload")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline sequential AND progressive decoder → uint8 HxWx3 (or HxW
    grey); any integer-ratio sampling factors (4:4:4 / 4:2:0 / 4:2:2 /
    4:4:0), DRI/RSTn restart intervals honored.  Progressive (SOF2,
    the majority encoding of modern web JPEGs — VERDICT r8 #7) decodes
    via per-component coefficient accumulation across scans: DC
    first/refine, AC spectral-selection bands with EOB-run tracking, AC
    successive-approximation refinement (T.81 Annex G), reconstructed
    once at EOI with the same dequantize + IDCT + upsample path as
    baseline.  SOF3 lossless decodes via Annex-H predictive coding
    (components raw, no color transform).  SOF9 sequential-arithmetic
    AND SOF10 progressive-arithmetic decode via the QM coder (Annexes
    D + F / G.2; DAC conditioning, restarts, 8/12-bit, non-interleaved
    scans).  Arithmetic-lossless and hierarchical inputs still raise
    ``NotImplementedError``."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0
    progressive = False
    sample_bits = 8
    coef_store: dict[int, np.ndarray] = {}  # cid -> (BY, BX, 64) int32
    n_scans = 0
    seq_planes: dict[int, np.ndarray] = {}  # non-interleaved sequential
    seq_done: set[int] = set()
    lossless = False
    ll_planes: dict[int, np.ndarray] = {}  # lossless reconstructed samples
    ll_done: set[int] = set()
    ll_pt: dict[int, int] = {}
    arithmetic = False
    arith_dc_cond: dict[int, tuple[int, int]] = {}  # DAC: tb -> (L, U)
    arith_ac_kx: dict[int, int] = {}  # DAC: tb -> Kx
    arith_stats: _ArithStats | None = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        # T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes — skip them or a spec-legal file from another
        # encoder misparses (the real marker byte would be consumed as
        # the segment-length high byte)
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if progressive and n_scans:
                return _reconstruct_progressive(
                    frame, coef_store, qtables, sample_bits
                )
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (may hold several tables)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                if pq not in (0, 1):
                    raise ValueError(f"bad DQT precision field {pq}")
                tbl = np.zeros(64)
                if pq == 1:  # 16-bit table entries, big-endian (T.81 B.2.4.1)
                    tbl[_ZIGZAG] = np.frombuffer(
                        body, ">u2", count=64, offset=off + 1
                    )
                    off += 129
                else:
                    tbl[_ZIGZAG] = np.frombuffer(
                        body, np.uint8, count=64, offset=off + 1
                    )
                    off += 65
                qtables[tq] = tbl.reshape(8, 8).astype(np.float64)
        elif marker == 0xC4:  # DHT (may hold several tables)
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                symbols = list(body[off + 17 : off + 17 + n])
                codes = _canonical_codes(bits, symbols)
                huff[(tc, th)] = {
                    (length, code): sym for sym, (code, length) in codes.items()
                }
                off += 17 + n
        elif marker == 0xC3:  # SOF3 lossless (Huffman, Annex H)
            lossless = True
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if not 2 <= precision <= 16:
                raise ValueError(
                    f"lossless precision {precision} out of range 2..16"
                )
            sample_bits = precision
            comps = []
            for ci in range(ncomp):
                cid, sampling, tq = body[6 + 3 * ci : 9 + 3 * ci]
                if sampling != 0x11:
                    raise NotImplementedError(
                        "subsampled lossless JPEG (non-1x1 factors)"
                    )
                comps.append((cid, 1, 1, tq))
            frame = (h, w, comps)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            # SOF0 baseline / SOF1 extended sequential / SOF2 progressive /
            # SOF9 arithmetic extended sequential / SOF10 arithmetic
            # progressive.  At 8-bit precision SOF1 decodes identically to
            # baseline (T.81 just lifts the 2-table/255-value limits
            # baseline adds); the arithmetic frames share the layouts and
            # swap the entropy coder.
            progressive = marker in (0xC2, 0xCA)
            arithmetic = marker in (0xC9, 0xCA)
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision not in (8, 12):
                raise NotImplementedError(
                    f"{precision}-bit JPEG sample precision (8/12 decode)"
                )
            if precision == 12 and marker == 0xC0:
                raise ValueError(
                    "baseline (SOF0) is 8-bit only; 12-bit data requires "
                    "SOF1/SOF2 (T.81 Table B.2)"
                )
            sample_bits = precision
            comps = []
            for ci in range(ncomp):
                cid, sampling, tq = body[6 + 3 * ci : 9 + 3 * ci]
                hi, vi = sampling >> 4, sampling & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"bad sampling factors {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if any(hmax % c[1] or vmax % c[2] for c in comps):
                raise NotImplementedError(
                    "non-integer subsampling ratio between components"
                )
            frame = (h, w, comps)
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xCC:  # DAC — arithmetic conditioning (B.2.4.3)
            off = 0
            while off + 1 < len(body):
                tc, tb = body[off] >> 4, body[off] & 0x0F
                cs = body[off + 1]
                if tc == 0:
                    low, up = cs & 0x0F, cs >> 4
                    if not low <= up <= 15:
                        raise ValueError(f"bad DAC DC conditioning {cs:#x}")
                    arith_dc_cond[tb] = (low, up)
                else:
                    if not 1 <= cs <= 63:
                        raise ValueError(f"bad DAC AC Kx {cs}")
                    arith_ac_kx[tb] = cs
                off += 2
        elif marker in (0xC5, 0xC6, 0xC7, 0xCB):
            raise NotImplementedError(
                "lossless-arithmetic or hierarchical JPEG (sequential "
                "SOF9 and progressive SOF10 arithmetic both decode)"
            )
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF0")
            ncomp_scan = body[0]
            scan_tables: dict[int, tuple[int, int]] = {}
            scan_order: list[int] = []
            for ci in range(ncomp_scan):
                cid, tdta = body[1 + 2 * ci : 3 + 2 * ci]
                scan_tables[cid] = (tdta >> 4, tdta & 0x0F)
                scan_order.append(cid)
            h, w, comps = frame
            if lossless:
                if restart_interval:
                    raise NotImplementedError(
                        "restart intervals in lossless JPEG"
                    )
                predictor = body[1 + 2 * ncomp_scan]  # Ss selects P1..P7
                pt = body[3 + 2 * ncomp_scan] & 0x0F  # Al = point transform
                if not ll_planes:
                    for cid2, _hi2, _vi2, _tq2 in comps:
                        ll_planes[cid2] = np.zeros((h, w), np.int64)
                scan_comps = [
                    (cid, scan_tables[cid][0]) for cid in scan_order
                ]
                consumed = _decode_lossless_samples(
                    payload[pos + seg_len :], scan_comps, huff, w, h,
                    sample_bits, predictor, pt, ll_planes,
                )
                for cid in scan_order:
                    ll_done.add(cid)
                    ll_pt[cid] = pt  # Al is per scan
                pos = pos + seg_len + consumed
                while pos + 1 < len(payload) and not (
                    payload[pos] == 0xFF
                    and payload[pos + 1] != 0x00
                    and not 0xD0 <= payload[pos + 1] <= 0xD7
                ):
                    pos += 1
                if ll_done == {c[0] for c in comps}:
                    # T.81 defines NO color transform for lossless —
                    # components present raw at file depth/order.
                    dtype = np.uint8 if sample_bits <= 8 else np.uint16
                    out = [
                        (ll_planes[c[0]] << ll_pt[c[0]]).astype(dtype)
                        for c in comps
                    ]
                    return out[0] if len(out) == 1 else np.stack(out, axis=2)
                continue
            if arithmetic:
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                if arith_stats is None:
                    arith_stats = _ArithStats(len(comps))
                arith_stats.reset()  # F.1.4.1: stats reset per scan
                if progressive:  # SOF10
                    ss = body[1 + 2 * ncomp_scan]
                    se = body[2 + 2 * ncomp_scan]
                    ahal = body[3 + 2 * ncomp_scan]
                    if not coef_store:
                        for cid2, hi2, vi2, _tq2 in comps:
                            coef_store[cid2] = np.zeros(
                                (mcuy * vi2, mcux * hi2, 64), dtype=np.int32
                            )
                    consumed = _arith_decode_progressive_scan(
                        payload[pos + seg_len :], frame, coef_store,
                        scan_order, scan_tables, ss, se, ahal >> 4,
                        ahal & 0x0F, arith_dc_cond, arith_ac_kx,
                        restart_interval, arith_stats,
                    )
                    n_scans += 1
                else:
                    if not seq_planes:
                        for cid2, hi2, vi2, _tq2 in comps:
                            seq_planes[cid2] = np.zeros(
                                (mcuy * 8 * vi2, mcux * 8 * hi2),
                                dtype=np.float64,
                            )
                    consumed = _arith_decode_scan(
                        payload[pos + seg_len :], frame, scan_order,
                        scan_tables, qtables, arith_dc_cond, arith_ac_kx,
                        restart_interval, sample_bits, seq_planes,
                        arith_stats,
                    )
                    seq_done.update(scan_order)
                pos = pos + seg_len + consumed
                while pos + 1 < len(payload) and not (
                    payload[pos] == 0xFF
                    and payload[pos + 1] != 0x00
                    and not 0xD0 <= payload[pos + 1] <= 0xD7
                ):
                    pos += 1
                if not progressive and seq_done == {c[0] for c in comps}:
                    planes = [seq_planes[c[0]] for c in comps]
                    return _finish_image(
                        planes, comps, hmax, vmax, h, w, sample_bits
                    )
                continue
            if progressive:
                ss = body[1 + 2 * ncomp_scan]
                se = body[2 + 2 * ncomp_scan]
                ahal = body[3 + 2 * ncomp_scan]
                if not coef_store:
                    hmax = max(c[1] for c in comps)
                    vmax = max(c[2] for c in comps)
                    mcux = -(-w // (8 * hmax))
                    mcuy = -(-h // (8 * vmax))
                    for cid, hi, vi, _tq in comps:
                        coef_store[cid] = np.zeros(
                            (mcuy * vi, mcux * hi, 64), dtype=np.int32
                        )
                consumed = _decode_progressive_scan(
                    payload[pos + seg_len :],
                    frame,
                    coef_store,
                    huff,
                    scan_order,
                    scan_tables,
                    ss,
                    se,
                    ahal >> 4,
                    ahal & 0x0F,
                    restart_interval,
                )
                n_scans += 1
                pos = pos + seg_len + consumed
                # resync: skip pad bytes to the next true marker (not a
                # stuffed 0xFF00, not a stray RSTn)
                while pos + 1 < len(payload) and not (
                    payload[pos] == 0xFF
                    and payload[pos + 1] != 0x00
                    and not 0xD0 <= payload[pos + 1] <= 0xD7
                ):
                    pos += 1
                continue
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            if ncomp_scan != len(comps) or seq_planes:
                # Non-interleaved sequential: each scan carries ONE
                # component whose data units walk the component's OWN
                # block grid in raster order (T.81 A.2.2 — ceil of the
                # scaled dimensions, NOT padded to MCU multiples), and
                # the MCU is a single data unit, so DRI counts blocks.
                # Planes accumulate across scans; the image reconstructs
                # once every frame component has been seen.
                if ncomp_scan != 1:
                    raise NotImplementedError(
                        "partially-interleaved sequential scan (1 < Ns < Nf)"
                    )
                if not seq_planes:
                    for cid2, hi2, vi2, _tq2 in comps:
                        seq_planes[cid2] = np.zeros(
                            (mcuy * 8 * vi2, mcux * 8 * hi2), dtype=np.float64
                        )
                cid = scan_order[0]
                hi, vi, tq = next(
                    (c[1], c[2], c[3]) for c in comps if c[0] == cid
                )
                bx = -(-(-(-w * hi // hmax)) // 8)  # ceil(ceil(w*hi/hmax)/8)
                by = -(-(-(-h * vi // vmax)) // 8)
                td, ta = scan_tables[cid]
                br = _BitReader(payload[pos + seg_len :])
                pred = 0
                plane = seq_planes[cid]
                for unit in range(by * bx):
                    if (
                        restart_interval
                        and unit
                        and unit % restart_interval == 0
                    ):
                        n = br.consume_restart()
                        expect = (unit // restart_interval - 1) % 8
                        if n != expect:
                            raise ValueError(
                                f"RST{n} out of sequence (expected RST{expect})"
                            )
                        pred = 0  # T.81 §F.2.1.3.1
                    pred, block = _decode_block(
                        br, huff[(0, td)], huff[(1, ta)], qtables[tq], pred,
                        float(1 << (sample_bits - 1)),
                    )
                    y0, x0 = (unit // bx) * 8, (unit % bx) * 8
                    plane[y0 : y0 + 8, x0 : x0 + 8] = block
                seq_done.add(cid)
                pos = pos + seg_len + br.pos
                # resync: skip pad bits/bytes to the next true marker
                while pos + 1 < len(payload) and not (
                    payload[pos] == 0xFF
                    and payload[pos + 1] != 0x00
                    and not 0xD0 <= payload[pos + 1] <= 0xD7
                ):
                    pos += 1
                if seq_done == {c[0] for c in comps}:
                    planes = [seq_planes[c[0]] for c in comps]
                    return _finish_image(
                        planes, comps, hmax, vmax, h, w, sample_bits
                    )
                continue
            planes = [
                np.zeros((mcuy * 8 * vi, mcux * 8 * hi), dtype=np.float64)
                for (_cid, hi, vi, _tq) in comps
            ]
            br = _BitReader(payload[pos + seg_len :])
            preds = [0] * len(comps)
            mcu_idx = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if (
                        restart_interval
                        and mcu_idx
                        and mcu_idx % restart_interval == 0
                    ):
                        n = br.consume_restart()
                        expect = (mcu_idx // restart_interval - 1) % 8
                        if n != expect:
                            raise ValueError(
                                f"RST{n} out of sequence (expected RST{expect})"
                            )
                        preds = [0] * len(comps)  # T.81 §F.2.1.3.1
                    for ci, (cid, hi, vi, tq) in enumerate(comps):
                        td, ta = scan_tables[cid]
                        for v in range(vi):
                            for hh in range(hi):
                                preds[ci], block = _decode_block(
                                    br, huff[(0, td)], huff[(1, ta)],
                                    qtables[tq], preds[ci],
                                    float(1 << (sample_bits - 1)),
                                )
                                y0 = my * 8 * vi + v * 8
                                x0 = mx * 8 * hi + hh * 8
                                planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
                    mcu_idx += 1
            return _finish_image(planes, comps, hmax, vmax, h, w, sample_bits)
        pos += seg_len
    if seq_planes or ll_planes:
        raise ValueError(
            "scans ended before every frame component was coded"
        )
    raise ValueError("JPEG payload contains no scan")
