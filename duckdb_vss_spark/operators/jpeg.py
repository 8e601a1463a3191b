"""Baseline-profile JPEG codec (ITU-T T.81 / ISO 10918-1) in pure numpy.

Round-9 resolution of the "decide lossy-codec decode" item: the container
ships no codec libraries (no PIL / OpenCV / libjpeg), so the pipeline's
JPEG surface was header-only metadata. This module implements the baseline
sequential DCT process end to end — enough to *decode real baseline JPEGs*
(the overwhelming majority of web-crawled images) and to *encode*
deterministic test material so the decoder is gate-able without vendored
binaries:

- ``encode_jpeg(pixels, quality, subsampling, restart_interval)``:
  grayscale or RGB at 4:4:4 or 4:2:0 (2x2 luma + box-averaged chroma per
  16x16 MCU — the dominant web layout), optional DRI/RSTn restart
  markers, standard Annex K quantization tables scaled by the IJG
  quality curve, standard Annex K Huffman tables, byte-stuffed entropy
  stream. Deterministic: same pixels + options => same bytes.
- ``decode_jpeg(b)``: marker parse (DQT / DHT / SOF0 / SOF2 / SOS / DRI /
  RSTn), canonical Huffman decode with DC prediction, dequantize,
  de-zigzag, orthonormal 2-D IDCT, level shift, nearest-neighbor chroma
  upsampling for subsampled inputs, JFIF YCbCr->RGB. Supported: 8-bit
  precision, 1 or 3 components, baseline (SOF0) AND progressive (SOF2 —
  T.81 Annex G: spectral selection, successive approximation, DC/AC
  first + refinement scans, EOBn runs, restarts; the dominant web-JPEG
  mode). Arithmetic coding, 12-bit, and hierarchical modes raise
  ``NotImplementedError`` with the marker name, same contract as the
  other codec guards in :mod:`.multimodal`.
- ``encode_jpeg(..., progressive=True)``: SOF2 encode with the libjpeg
  default-script shape (DC first at Al=1, per-component spectral bands
  1-5 / 6-63 at Al=1, AC refinement to Al=0, DC refinement) — it shares
  the baseline quantizer, so progressive and baseline decodes of the
  same pixels are pixel-identical, which is what the tests pin.

The reference repo has no pixel-decode surface at all (its `test/` tree is
vector-search only) — this is pure north-star pipeline capability: a
multimodal training-data pipeline must turn crawled bytes into pixel
tensors engine-side, in the same mapInPandas batches the rest of the
curation runs in.

Determinism notes (these make the codec oracle-able):

- The DCT/IDCT use the exact orthonormal matrix (float64); for an 8x8
  block of one constant EVEN value the whole path is lossless at quality
  50 (DC quant step 16 divides 8*(c-128)), which is what the driver gate
  exploits (closed-form expected pixels in SQL).
- Quantization rounds half away from zero (IJG convention), not banker's.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["encode_jpeg", "decode_jpeg"]

# -- constants (ITU-T T.81 Annex K) -----------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# K.1 / K.2 base quantization tables (natural order)
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# K.3 typical Huffman tables: (bits[1..16], huffval)
HT_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# orthonormal 8-point DCT-II matrix (the scaling T.81's FDCT/IDCT define)
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16.0) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _fdct2(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) level-shifted samples -> (n, 8, 8) DCT coefficients."""
    return np.einsum("ij,njk,lk->nil", _C, blocks, _C)


def _idct2(coefs: np.ndarray) -> np.ndarray:
    return np.einsum("ji,njk,kl->nil", _C, coefs, _C)


def _round_half_away(x: np.ndarray) -> np.ndarray:
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def _scaled_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    if not (1 <= quality <= 100):
        raise ValueError("JPEG quality must be in [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


# -- bit I/O -----------------------------------------------------------------


class _BitWriter:
    """Entropy-segment writer. Bits accumulate in one Python int and
    drain to bytes in bounded chunks (``int.to_bytes`` + a C-speed
    ``bytes.replace`` for the 0xFF00 stuffing) instead of a Python loop
    per output byte — the per-symbol ``write`` was the encoder's
    second-hottest line."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        if self.nbits >= 1024:
            self._drain()

    def _drain(self) -> None:
        keep = self.nbits & 7
        nbytes = (self.nbits - keep) >> 3
        if nbytes:
            chunk = (self.acc >> keep).to_bytes(nbytes, "big")
            self.out += chunk.replace(b"\xff", b"\xff\x00")
            self.acc &= (1 << keep) - 1
            self.nbits = keep

    def flush(self) -> bytes:
        if self.nbits & 7:
            pad = 8 - (self.nbits & 7)
            # pad with 1-bits (T.81 F.1.2.3)
            self.acc = (self.acc << pad) | ((1 << pad) - 1)
            self.nbits += pad
        self._drain()
        return bytes(self.out)


class _BitReader:
    """Entropy-segment reader: un-stuffs 0xFF00 and stops at markers.

    The accumulator is kept bounded (always < 2^32; ``nbits`` unread bits
    live in its low end), so bulk ``read_bits`` and the 16-bit
    Huffman-LUT peek in :meth:`decode_symbol` are O(1) int ops instead of
    a Python loop per bit — the measured hot path of the whole decoder
    (411k ``read_bit`` calls per 200 frames before the rewrite)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:  # marker (RSTn consumed by caller, EOI/others raised)
                raise _AtMarker(nxt)
        else:
            self.pos += 1
        self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def decode_symbol(self, lut_len: list, lut_sym: list) -> int:
        """One canonical-Huffman symbol via a 16-bit peek LUT (prefix
        codes are <= 16 bits, T.81 C.2). Equivalent to the bit-serial
        walk: the LUT's first-matching-prefix IS the unique code."""
        if self.nbits < 16:
            try:
                while self.nbits < 16:
                    self._fill()
            except _AtMarker:
                # marker inside the peek window: a complete code within
                # the real bits decodes as usual; needing the padding
                # means the bit-serial reader would have consumed past
                # the marker — propagate, exactly as it did
                nb = self.nbits
                w = (self.acc << (16 - nb)) & 0xFFFF
                length = lut_len[w]
                if length == 0 or length > nb:
                    raise
                self.nbits = nb - length
                return lut_sym[w]
        w = (self.acc >> (self.nbits - 16)) & 0xFFFF
        length = lut_len[w]
        if length == 0:
            raise ValueError("invalid JPEG Huffman code")
        self.nbits -= length
        return lut_sym[w]

    def byte_align(self) -> None:
        self.acc = 0
        self.nbits = 0


class _AtMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


# -- Huffman -----------------------------------------------------------------


from functools import lru_cache


@lru_cache(maxsize=64)
def _build_codes_t(bits_t: tuple, vals_t: tuple) -> dict:
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits_t[length - 1]):
            codes[vals_t[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_codes(bits: list, huffval: list) -> dict:
    """symbol -> (code, length), canonical assignment (T.81 C.2). Cached
    per table definition — every encode call was rebuilding the four
    standard tables (0.13 ms/image on the thumbnail bench row)."""
    return _build_codes_t(tuple(bits), tuple(huffval))


def _build_decode_table(bits: list, huffval: list) -> dict:
    """(length, code) -> symbol, for bit-serial canonical decode."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


@lru_cache(maxsize=64)
def _huff_tables(bits_t: tuple, vals_t: tuple) -> tuple:
    """(bit-serial dict, 16-bit-peek LUT lengths, LUT symbols) for one
    canonical table, cached per definition: a corpus of images sharing
    the standard tables — or every frame of an MJPEG stream — builds each
    table once per process instead of once per DHT segment. The LUT maps
    every 16-bit window to the unique code prefixing it (prefix-free by
    construction), turning symbol decode into one list index."""
    table = _build_decode_table(list(bits_t), list(vals_t))
    lut_len = [0] * 65536
    lut_sym = [0] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits_t[length - 1]):
            start = code << (16 - length)
            span = 1 << (16 - length)
            lut_len[start : start + span] = [length] * span
            lut_sym[start : start + span] = [vals_t[k]] * span
            code += 1
            k += 1
        code <<= 1
    return table, lut_len, lut_sym


def _decode_symbol(br: _BitReader, t: tuple) -> int:
    """Decode one symbol against a :func:`_huff_tables` triple."""
    return br.decode_symbol(t[1], t[2])


def _magnitude(v: int) -> tuple[int, int]:
    """value -> (size category, raw bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


# -- encoder ------------------------------------------------------------------


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r = px[..., 0].astype(np.float64)
    g = px[..., 1].astype(np.float64)
    b = px[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.clip(_round_half_away(np.stack([y, cb, cr], axis=-1)), 0, 255)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(_round_half_away(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(h, w) -> (nby*nbx, 8, 8) raster order, edge-replicated padding."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = plane.shape
    return (
        plane.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _encode_block(blk, pred: int, dc_codes: dict, ac_codes: dict, bw: _BitWriter) -> int:
    """Entropy-code ONE zigzag-ordered quantized block; returns the new DC
    predictor. Shared by the grayscale plane path and the interleaved
    color MCU path. The coefficients are pulled into a plain list once —
    a NumPy scalar read per coefficient plus a `_magnitude` call per
    nonzero was most of the encoder's remaining time."""
    v = blk.tolist() if not isinstance(blk, list) else blk
    dc = v[0]
    diff = dc - pred
    if diff == 0:
        code, length = dc_codes[0]
        bw.write(code, length)
    else:
        size = (diff if diff > 0 else -diff).bit_length()
        bits = diff if diff > 0 else diff + (1 << size) - 1
        code, length = dc_codes[size]
        bw.write(code, length)
        bw.write(bits, size)
    last_nz = 0
    for i in range(63, 0, -1):
        if v[i]:
            last_nz = i
            break
    run = 0
    for i in range(1, last_nz + 1):
        val = v[i]
        if val == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size = (val if val > 0 else -val).bit_length()
        bits = val if val > 0 else val + (1 << size) - 1
        code, length = ac_codes[(run << 4) | size]
        bw.write(code, length)
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return dc


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 75,
    subsampling: str = "444",
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Baseline JFIF encode of ``(h, w)`` grayscale or ``(h, w, 3)`` RGB
    uint8 pixels. ``subsampling``: '444' (one block per component per
    MCU) or '420' (2x2 luma blocks + box-averaged chroma per 16x16 MCU —
    the dominant web format; exercises the decoder's subsampled path).
    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker every
    that many MCUs (DC predictors reset), exercising the decoder's
    restart machinery. Deterministic."""
    px = np.asarray(pixels)
    if px.dtype != np.uint8:
        raise ValueError("encode_jpeg expects uint8 pixels")
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("encode_jpeg expects (h, w) or (h, w, 3) pixels")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if progressive:
        return _encode_progressive(px, quality, subsampling, restart_interval)
    sub420 = subsampling == "420" and not gray
    h, w = px.shape[:2]
    qt_l = _scaled_qtable(QT_LUMA, quality)
    qt_c = _scaled_qtable(QT_CHROMA, quality)
    if gray:
        planes = [px.astype(np.float64)]
        qts = [qt_l]
    else:
        ycc = _rgb_to_ycbcr(px)
        planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
        qts = [qt_l, qt_c, qt_c]

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0x00]) + bytes(qt_l[ZIGZAG].astype(np.uint8))
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0x01]) + bytes(qt_c[ZIGZAG].astype(np.uint8))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        samp = 0x22 if (sub420 and ci == 0) else 0x11
        sof += bytes([ci + 1, samp, 0 if ci == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, int(restart_interval))
    for tclass, tid, (bits, vals) in (
        (0, 0, HT_DC_LUMA), (1, 0, HT_AC_LUMA), (0, 1, HT_DC_CHROMA), (1, 1, HT_AC_CHROMA),
    )[: 2 if gray else 4]:
        payload = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    dc_l, ac_l = _build_codes(*HT_DC_LUMA), _build_codes(*HT_AC_LUMA)
    dc_c, ac_c = _build_codes(*HT_DC_CHROMA), _build_codes(*HT_AC_CHROMA)
    if sub420:
        # pad luma to 16-multiples (one MCU = 16x16 px); chroma is the 2x2
        # box average of the padded luma-res planes, so its 8-multiples
        # follow automatically
        yf = np.asarray(planes[0], dtype=np.float64)
        ph, pw = -h % 16, -w % 16
        if ph or pw:
            pads = [np.pad(np.asarray(p, dtype=np.float64), ((0, ph), (0, pw)), mode="edge")
                    for p in planes]
        else:
            pads = [np.asarray(p, dtype=np.float64) for p in planes]
        hh, ww = pads[0].shape
        cb = pads[1].reshape(hh // 2, 2, ww // 2, 2).mean(axis=(1, 3))
        cr = pads[2].reshape(hh // 2, 2, ww // 2, 2).mean(axis=(1, 3))
        comp_planes = [pads[0], cb, cr]
        comp_qts = [qt_l, qt_c, qt_c]
        qplanes = []
        for plane, qt in zip(comp_planes, comp_qts):
            blocks = _to_blocks(plane) - 128.0
            coefs = _fdct2(blocks).reshape(-1, 64)
            qplanes.append(_round_half_away(coefs / qt[None, :]).astype(np.int64)[:, ZIGZAG])
        mcux, mcuy = ww // 16, hh // 16
        ybw = ww // 8  # luma blocks per row
        cbw = ww // 16  # chroma blocks per row
        bw = _BitWriter()
        preds = [0, 0, 0]
        tables = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
        mcu = 0
        rst = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    out += bw.flush()
                    bw = _BitWriter()
                    out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                    preds = [0, 0, 0]
                for by in range(2):
                    for bx in range(2):
                        blk = qplanes[0][(2 * my + by) * ybw + 2 * mx + bx]
                        preds[0] = _encode_block(blk, preds[0], dc_l, ac_l, bw)
                for ci in (1, 2):
                    blk = qplanes[ci][my * cbw + mx]
                    dc_codes, ac_codes = tables[ci]
                    preds[ci] = _encode_block(blk, preds[ci], dc_codes, ac_codes, bw)
                mcu += 1
        out += bw.flush()
        out += b"\xff\xd9"  # EOI
        return bytes(out)
    # 4:4:4 interleaved MCU = one block per component, raster order
    qplanes = []
    for plane, qt in zip(planes, qts):
        blocks = _to_blocks(np.asarray(plane, dtype=np.float64)) - 128.0
        coefs = _fdct2(blocks).reshape(-1, 64)
        q = _round_half_away(coefs / qt[None, :]).astype(np.int64)
        qplanes.append(q[:, ZIGZAG])
    bw = _BitWriter()
    preds = [0, 0, 0]
    tables = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    mcu = 0
    rst = 0
    for b in range(qplanes[0].shape[0]):
        if restart_interval and mcu and mcu % restart_interval == 0:
            out += bw.flush()
            bw = _BitWriter()
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            preds = [0, 0, 0]
        for ci in range(len(qplanes)):
            dc_codes, ac_codes = tables[ci]
            preds[ci] = _encode_block(qplanes[ci][b], preds[ci], dc_codes, ac_codes, bw)
        mcu += 1
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# -- progressive encoder (SOF2) ----------------------------------------------


def _emit_ac_first(blk, ss, se, al, ac_codes, bw):
    """AC first scan for one block's band: magnitudes truncated by Al
    (|v| >> Al, sign re-applied), EOB run forced to flush per block (an
    EOB run of 1 is the 0x00 symbol with no extra bits — spec-valid and
    keeps the encoder simple; the decoder handles general EOBn)."""
    r = 0
    for k in range(ss, se + 1):
        v = int(blk[k])
        mag = (v if v >= 0 else -v) >> al
        if mag == 0:
            r += 1
            continue
        while r > 15:
            code, length = ac_codes[0xF0]
            bw.write(code, length)
            r -= 16
        size, bits = _magnitude(mag if v >= 0 else -mag)
        code, length = ac_codes[(r << 4) | size]
        bw.write(code, length)
        bw.write(bits, size)
        r = 0
    if r > 0:
        code, length = ac_codes[0x00]
        bw.write(code, length)


def _emit_ac_refine(blk, ss, se, al, ac_codes, bw):
    """AC refinement scan for one block's band (T.81 G.1.2.3, the encoder
    mirror of _decode_prog_scan.ac_refine): newly-significant coefficients
    (|v| >> Al == 1) emit (run<<4)|1 + a sign bit; already-significant ones
    buffer one correction bit, flushed after the next emitted symbol."""
    absv = [(abs(int(blk[k])) >> al) for k in range(ss, se + 1)]
    eobpos = max((i for i, t in enumerate(absv) if t == 1), default=-1)
    r = 0
    br_bits: list[int] = []

    def flush_bits():
        for bit in br_bits:
            bw.write(bit, 1)
        br_bits.clear()

    for i, t in enumerate(absv):
        if t == 0:
            r += 1
            continue
        while r > 15 and i <= eobpos:
            code, length = ac_codes[0xF0]
            bw.write(code, length)
            r -= 16
            flush_bits()
        if t > 1:
            br_bits.append(t & 1)
            continue
        code, length = ac_codes[(r << 4) | 1]
        bw.write(code, length)
        bw.write(1 if int(blk[ss + i]) >= 0 else 0, 1)
        flush_bits()
        r = 0
    if r > 0 or br_bits:
        code, length = ac_codes[0x00]
        bw.write(code, length)
        flush_bits()


def _encode_progressive(px, quality, subsampling, restart_interval):
    """Spectral-selection + successive-approximation encode (the libjpeg
    default-script shape): DC first at Al=1 (interleaved), per-component
    AC first scans for bands 1-5 and 6-63 at Al=1, one per-component AC
    refinement scan over 1-63 to Al=0, and a DC refinement scan. Produces
    the same quantized coefficients as the baseline encoder, so decode of
    the progressive stream must equal decode of the baseline stream
    pixel-for-pixel — which is exactly what the tests pin."""
    gray = px.ndim == 2
    sub420 = subsampling == "420" and not gray
    h, w = px.shape[:2]
    qt_l = _scaled_qtable(QT_LUMA, quality)
    qt_c = _scaled_qtable(QT_CHROMA, quality)

    # quantized zigzag coefficient planes + per-component grid geometry
    comps = []
    if gray:
        plane_specs = [(px.astype(np.float64), qt_l, 1, 1, 1, 0, 0)]
    elif not sub420:
        ycc = _rgb_to_ycbcr(px)
        plane_specs = [
            (ycc[..., 0], qt_l, 1, 1, 1, 0, 0),
            (ycc[..., 1], qt_c, 2, 1, 1, 1, 1),
            (ycc[..., 2], qt_c, 3, 1, 1, 1, 1),
        ]
    else:
        ycc = _rgb_to_ycbcr(px)
        ph, pw = -h % 16, -w % 16
        pads = [
            np.pad(ycc[..., i].astype(np.float64), ((0, ph), (0, pw)), mode="edge")
            if (ph or pw) else ycc[..., i].astype(np.float64)
            for i in range(3)
        ]
        hh, ww = pads[0].shape
        cb = pads[1].reshape(hh // 2, 2, ww // 2, 2).mean(axis=(1, 3))
        cr = pads[2].reshape(hh // 2, 2, ww // 2, 2).mean(axis=(1, 3))
        plane_specs = [
            (pads[0], qt_l, 1, 2, 2, 0, 0),
            (cb, qt_c, 2, 1, 1, 1, 1),
            (cr, qt_c, 3, 1, 1, 1, 1),
        ]
    hmax = max(s[3] for s in plane_specs)
    vmax = max(s[4] for s in plane_specs)
    for plane, qt, cid, ch_, cv_, tq, tid in plane_specs:
        blocks = _to_blocks(np.asarray(plane, dtype=np.float64)) - 128.0
        coefsq = _round_half_away(_fdct2(blocks).reshape(-1, 64) / qt[None, :]).astype(np.int64)
        padcols = -(-plane.shape[1] // 8)
        # transmitted (ceil-dims) grid for non-interleaved scans
        cw_t = -(-(w * ch_) // hmax)
        ch_t = -(-(h * cv_) // vmax)
        comps.append({
            "id": cid, "h": ch_, "v": cv_, "tq": tq, "tid": tid,
            "q": coefsq[:, ZIGZAG], "padcols": padcols,
            "nbx": -(-cw_t // 8), "nby": -(-ch_t // 8),
        })

    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0x00]) + bytes(qt_l[ZIGZAG].astype(np.uint8))
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0x01]) + bytes(qt_c[ZIGZAG].astype(np.uint8))
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, int(restart_interval))
    for tclass, tid, (bits, vals) in (
        (0, 0, HT_DC_LUMA), (1, 0, HT_AC_LUMA), (0, 1, HT_DC_CHROMA), (1, 1, HT_AC_CHROMA),
    )[: 2 if gray else 4]:
        payload = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload

    dc_codes = [_build_codes(*(HT_DC_LUMA if c["tid"] == 0 else HT_DC_CHROMA)) for c in comps]
    ac_codes = [_build_codes(*(HT_AC_LUMA if c["tid"] == 0 else HT_AC_CHROMA)) for c in comps]
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    def sos(scan_comps, ss, se, ah, al):
        hdr = bytes([len(scan_comps)])
        for c in scan_comps:
            hdr += bytes([c["id"], (c["tid"] << 4) | c["tid"]])
        hdr += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(hdr) + 2) + hdr

    def dc_scan(ah, al):
        nonlocal out
        out += sos(comps, 0, 0, ah, al)
        bw = _BitWriter()
        preds = [0] * len(comps)
        rst = 0
        for mcu in range(mcux * mcuy):
            if restart_interval and mcu and mcu % restart_interval == 0:
                out += bw.flush()
                bw = _BitWriter()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * len(comps)
            my, mx = divmod(mcu, mcux)
            for ci, c in enumerate(comps):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        bi = (my * c["v"] + by) * c["padcols"] + mx * c["h"] + bx
                        dc = int(c["q"][bi, 0])
                        if ah == 0:
                            v = dc >> al  # arithmetic shift (T.81 G.1.2.1)
                            size, bits = _magnitude(v - preds[ci])
                            code, length = dc_codes[ci][size]
                            bw.write(code, length)
                            if size:
                                bw.write(bits, size)
                            preds[ci] = v
                        else:
                            bw.write((dc >> al) & 1, 1)
        out += bw.flush()

    def ac_scan(ci, ss, se, ah, al):
        nonlocal out
        c = comps[ci]
        out += sos([c], ss, se, ah, al)
        bw = _BitWriter()
        rst = 0
        unit = 0
        for ry in range(c["nby"]):
            for rx in range(c["nbx"]):
                if restart_interval and unit and unit % restart_interval == 0:
                    out += bw.flush()
                    bw = _BitWriter()
                    out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                blk = c["q"][ry * c["padcols"] + rx]
                if ah == 0:
                    _emit_ac_first(blk, ss, se, al, ac_codes[ci], bw)
                else:
                    _emit_ac_refine(blk, ss, se, al, ac_codes[ci], bw)
                unit += 1
        out += bw.flush()

    dc_scan(0, 1)
    for ci in range(len(comps)):
        ac_scan(ci, 1, 5, 0, 1)
        ac_scan(ci, 6, 63, 0, 1)
    for ci in range(len(comps)):
        ac_scan(ci, 1, 63, 1, 0)
    dc_scan(1, 0)
    out += b"\xff\xd9"
    return bytes(out)


# -- decoder ------------------------------------------------------------------

_UNSUPPORTED_SOF = {
    0xC1: "extended sequential (SOF1)",
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def decode_jpeg(b: bytes) -> np.ndarray:
    """Decode a baseline (SOF0) JPEG to ``(h, w, 3)`` RGB uint8 (grayscale
    replicated to 3 channels, matching the other decoders' RGB contract).
    Non-baseline processes raise ``NotImplementedError``."""
    data = bytes(b)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    coefs = None  # progressive: comp id -> (padded blocks, 64) zigzag coefs
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte (T.81 B.1.1.2 allows any number of pads)
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack(">H", data[pos : pos + 2])[0]
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quantization tables not supported")
                tbl = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8).astype(np.int64)
                qtables[tq] = tbl[UNZIGZAG]
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                htables[(tc, th)] = _huff_tables(tuple(bits), tuple(vals))
                p += 17 + nv
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG precision not supported")
            comps = []
            for ci in range(nc):
                cid, samp, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps, "progressive": marker == 0xC2}
        elif marker in _UNSUPPORTED_SOF:
            raise NotImplementedError(
                f"JPEG {_UNSUPPORTED_SOF[marker]} process not supported "
                "(baseline SOF0 and progressive SOF2 only)"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            for si in range(ns):
                cs, tdta = seg[1 + 2 * si], seg[2 + 2 * si]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tdta >> 4, tdta & 0x0F))
            if not frame["progressive"]:
                return _decode_scan(
                    data, pos + seglen, frame, scan, qtables, htables, restart_interval
                )
            if coefs is None:
                coefs = _alloc_coef_planes(frame)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahl = seg[3 + 2 * ns]
            pos = _decode_prog_scan(
                data, pos + seglen, frame, scan, (ss, se, ahl >> 4, ahl & 0x0F),
                htables, restart_interval, coefs,
            )
            continue
        pos += seglen
    if frame is not None and frame.get("progressive") and coefs is not None:
        return _reconstruct(frame, coefs, qtables)
    raise ValueError("JPEG has no scan data")


def _decode_scan(data, pos, frame, scan, qtables, htables, restart_interval):
    fh, fw = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    # Per-component zigzag coefficient rows on the MCU-padded block grid
    # plus a decoded-block mask: the entropy loop (irreducibly serial)
    # only fills coefficient rows; dequant + IDCT + plane assembly run
    # ONCE per component over every decoded block afterwards — one
    # batched einsum instead of one 8x8 einsum per block (round 12;
    # _idct2 is batch-shaped already, so the per-block results are
    # bit-identical).
    store = {}
    for comp, _, _ in scan:
        cols_c, rows_c = mcux * comp["h"], mcuy * comp["v"]
        # (flat coef indices, coef values, decoded block ids): plain
        # Python lists in the serial loop, ONE fancy-index scatter per
        # component afterwards — a NumPy scalar store per coefficient
        # was the next-hottest line after the LUT rewrite
        store[comp["id"]] = (cols_c, rows_c, [], [], [])
    br = _BitReader(data, pos)
    preds = {comp["id"]: 0 for comp, _, _ in scan}
    n_mcu = mcux * mcuy
    mcu = 0
    while mcu < n_mcu:
        if restart_interval and mcu and mcu % restart_interval == 0:
            br.byte_align()
            # skip the RSTn marker
            while data[br.pos] != 0xFF:
                br.pos += 1
            if 0xD0 <= data[br.pos + 1] <= 0xD7:
                br.pos += 2
            preds = {k: 0 for k in preds}
        my, mx = divmod(mcu, mcux)
        try:
            for comp, td, ta in scan:
                cid = comp["id"]
                cols_c, _rows, fidx, fval, done = store[cid]
                dct_ll, dct_ls = htables[(0, td)][1], htables[(0, td)][2]
                act_ll, act_ls = htables[(1, ta)][1], htables[(1, ta)][2]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        bi = (my * comp["v"] + by) * cols_c + (mx * comp["h"] + bx)
                        base = bi << 6
                        size = br.decode_symbol(dct_ll, dct_ls)
                        if size:
                            bits = br.read_bits(size)
                            if bits < (1 << (size - 1)):
                                bits -= (1 << size) - 1
                            preds[cid] += bits
                        fidx.append(base)
                        fval.append(preds[cid])
                        k = 1
                        while k < 64:
                            rs = br.decode_symbol(act_ll, act_ls)
                            s = rs & 0x0F
                            if s == 0:
                                if rs == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            bits = br.read_bits(s)
                            if bits < (1 << (s - 1)):
                                bits -= (1 << s) - 1
                            fidx.append(base + k)
                            fval.append(bits)
                            k += 1
                        done.append(bi)
        except _AtMarker as m:
            if m.marker == 0xD9:
                break
            raise ValueError(f"unexpected marker 0x{m.marker:02X} in JPEG scan")
        mcu += 1
    out_planes = []
    for comp, _, _ in scan:
        cols_c, rows_c, fidx, fval, done = store[comp["id"]]
        arr = np.zeros((rows_c * cols_c, 64), dtype=np.float64)
        if fidx:
            arr.reshape(-1)[fidx] = fval
        mask = np.zeros(rows_c * cols_c, dtype=bool)
        mask[done] = True
        qt = qtables[comp["tq"]]
        # rows are zigzag-ordered, qt natural-ordered: de-zigzag FIRST,
        # then dequantize (multiplying in zigzag order scaled every AC
        # coefficient by the wrong table entry — round-9 review finding)
        px = _idct2((arr[:, UNZIGZAG] * qt[None, :]).reshape(-1, 8, 8)) + 128.0
        # undecoded blocks (truncated stream) stay 0.0 in the plane,
        # exactly as the per-block path left them
        px[~mask] = 0.0
        p = px.reshape(rows_c, cols_c, 8, 8).transpose(0, 2, 1, 3).reshape(
            rows_c * 8, cols_c * 8
        )
        # nearest-neighbor upsample to full resolution (JFIF allows any
        # upsampling filter; nearest is the deterministic choice)
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:fh, :fw])
    if len(out_planes) == 1:
        g = np.clip(_round_half_away(out_planes[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    ycc = np.stack(out_planes, axis=-1)
    ycc = np.clip(ycc, 0.0, 255.0)
    return _ycbcr_to_rgb(ycc)


# -- progressive decode (SOF2, T.81 Annex G) ----------------------------------


def _frame_geometry(frame):
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcux, mcuy


def _alloc_coef_planes(frame) -> dict:
    """Per-component zigzag-ordered coefficient store on the MCU-padded
    block grid; successive scans accumulate into it and _reconstruct
    renders it once at EOI."""
    hmax, vmax, mcux, mcuy = _frame_geometry(frame)
    out = {}
    for comp in frame["comps"]:
        cols, rows = mcux * comp["h"], mcuy * comp["v"]
        out[comp["id"]] = {
            "arr": np.zeros((rows * cols, 64), dtype=np.int64),
            "cols": cols,
            "rows": rows,
        }
    return out


def _scan_units(frame, scan, coefs):
    """The scan's data units in transmission order, as (comp, block_index)
    pairs grouped per restart unit: interleaved scans advance per MCU,
    non-interleaved per block of the single component's ceil-dims grid
    (T.81 A.2; the padded-grid columns outside it are not transmitted)."""
    hmax, vmax, mcux, mcuy = _frame_geometry(frame)
    units = []
    if len(scan) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                unit = []
                for comp, td, ta in scan:
                    cols = coefs[comp["id"]]["cols"]
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            bi = (my * comp["v"] + by) * cols + mx * comp["h"] + bx
                            unit.append((comp, td, ta, bi))
                units.append(unit)
    else:
        comp, td, ta = scan[0]
        cw = -(-(frame["w"] * comp["h"]) // hmax)
        ch = -(-(frame["h"] * comp["v"]) // vmax)
        nbx, nby = -(-cw // 8), -(-ch // 8)
        cols = coefs[comp["id"]]["cols"]
        for ry in range(nby):
            for rx in range(nbx):
                units.append([(comp, td, ta, ry * cols + rx)])
    return units


def _decode_prog_scan(data, pos, frame, scan, band, htables, restart_interval, coefs):
    """One progressive scan (DC/AC x first/refinement) into the coefficient
    store; returns the byte position of the next marker."""
    ss, se, ah, al = band
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if ss > 0 and len(scan) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    br = _BitReader(data, pos)
    preds = {comp["id"]: 0 for comp, _, _ in scan}
    eobrun = 0
    p1, m1 = 1 << al, -1 << al

    def dc_first(arr, bi, cid, td):
        size = _decode_symbol(br, htables[(0, td)])
        diff = _extend(br.read_bits(size), size) if size else 0
        preds[cid] += diff
        arr[bi, 0] = preds[cid] << al

    def dc_refine(arr, bi):
        if br.read_bit():
            arr[bi, 0] = int(arr[bi, 0]) | p1

    def ac_first(arr, bi, ta):
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = _decode_symbol(br, htables[(1, ta)])
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read_bits(r)
                return
            k += r
            if k > se:
                raise ValueError("JPEG AC index overflow in progressive scan")
            # sign * (magnitude << Al) == value * 2^Al for either sign
            arr[bi, k] = _extend(br.read_bits(s), s) * p1
            k += 1

    def ac_refine(arr, bi, ta):
        # T.81 G.1.2.3 / the canonical decoder structure: new significant
        # coefficients arrive as s=1 symbols; every already-nonzero
        # coefficient passed over carries one correction bit; EOB runs
        # still carry correction bits for the rest of the band
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _decode_symbol(br, htables[(1, ta)])
                r, s = rs >> 4, rs & 0x0F
                val = 0
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.read_bits(r)
                        break
                else:
                    if s != 1:
                        raise ValueError("AC refinement magnitude must be 1")
                    val = p1 if br.read_bit() else m1
                while k <= se:
                    c = int(arr[bi, k])
                    if c != 0:
                        if br.read_bit() and (c & p1) == 0:
                            arr[bi, k] = c + (p1 if c >= 0 else m1)
                    else:
                        r -= 1
                        if r < 0:
                            break
                    k += 1
                if val and k <= se:
                    arr[bi, k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                c = int(arr[bi, k])
                if c != 0 and br.read_bit() and (c & p1) == 0:
                    arr[bi, k] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1

    units = _scan_units(frame, scan, coefs)
    for ui, unit in enumerate(units):
        if restart_interval and ui and ui % restart_interval == 0:
            br.byte_align()
            while data[br.pos] != 0xFF:
                br.pos += 1
            if 0xD0 <= data[br.pos + 1] <= 0xD7:
                br.pos += 2
            preds = {k: 0 for k in preds}
            eobrun = 0
        for comp, td, ta, bi in unit:
            arr = coefs[comp["id"]]["arr"]
            if ss == 0:
                if ah == 0:
                    dc_first(arr, bi, comp["id"], td)
                else:
                    dc_refine(arr, bi)
            else:
                if ah == 0:
                    ac_first(arr, bi, ta)
                else:
                    ac_refine(arr, bi, ta)
    # advance to the next marker (skipping pad bits, stuffing, stray RSTs)
    p = br.pos
    n = len(data)
    while p < n - 1:
        if data[p] == 0xFF and data[p + 1] != 0x00 and not (0xD0 <= data[p + 1] <= 0xD7):
            return p
        p += 1
    return n


def _reconstruct(frame, coefs, qtables):
    """Dequantize + IDCT + upsample + color-convert the accumulated
    progressive coefficient store (the baseline path renders per block in
    _decode_scan; progressive renders once, after all scans)."""
    fh, fw = frame["h"], frame["w"]
    hmax, vmax, _, _ = _frame_geometry(frame)
    out_planes = []
    for comp in frame["comps"]:
        st = coefs[comp["id"]]
        qt = qtables[comp["tq"]]
        nat = st["arr"][:, UNZIGZAG] * qt[None, :]
        px = _idct2(nat.reshape(-1, 8, 8).astype(np.float64)) + 128.0
        rows, cols = st["rows"], st["cols"]
        plane = px.reshape(rows, cols, 8, 8).transpose(0, 2, 1, 3).reshape(rows * 8, cols * 8)
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        out_planes.append(plane[:fh, :fw])
    if len(out_planes) == 1:
        g = np.clip(_round_half_away(out_planes[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    ycc = np.clip(np.stack(out_planes, axis=-1), 0.0, 255.0)
    return _ycbcr_to_rgb(ycc)
