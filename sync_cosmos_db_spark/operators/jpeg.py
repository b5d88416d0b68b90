"""Baseline JPEG (JFIF / ITU T.81 sequential DCT) codec — stdlib+numpy.

Closes the last X5 capability seam (round-10 verdict item 5): PNG and
WAV already have real stdlib codecs in ``operators/multimodal.py``;
JPEG previously raised ``NotImplementedError``.  This module implements
the baseline sequential process end to end with no image library:

* **Decoder** (``jpeg_decode``): marker walk (SOI/APPn/COM/DQT/SOF0/
  DHT/DRI/SOS/EOI), canonical Huffman table construction, entropy
  decode with 0xFF00 un-stuffing and RSTn restart handling, dequantize,
  de-zigzag, 8×8 IDCT (orthonormal DCT basis, one einsum over all
  blocks of a component), chroma upsampling for sampling factors 1–2,
  YCbCr→RGB (BT.601/JFIF), crop to frame dimensions.  Baseline only:
  progressive (SOF2), arithmetic coding, 12-bit precision, and >2
  sampling factors raise ``ValueError`` with the marker name.
* **Encoder** (``jpeg_encode``): grayscale or RGB (4:4:4, optional
  4:2:0), Annex K quantization tables scaled by the libjpeg quality
  formula, Annex K Huffman tables, DC differential + AC run/size
  entropy coding, byte stuffing.  The encoder exists so tests and the
  registry query can synthesize real JPEG payloads inside this
  container; production data arrives already encoded.

Determinism: every lossy step rounds with ``floor(x + 0.5)`` (never
banker's rounding), so for DC-only content (solid blocks) the decoded
value is an exact closed-form function of the input — the property the
``multimodal_jpeg_roundtrip`` oracle recomputes in SQL.

Scale: codecs run inside Arrow-batched ``mapInPandas`` closures
(``decode_jpeg_assets`` / ``synth_jpeg_assets``) like the PNG/WAV
kernels — per-blob native-ish work is the one justified Python seam,
and the DCT/IDCT is numpy-vectorized across all blocks of a component.
This module registers itself for cloudpickle pickle-by-value (same as
``multimodal.py``), so executors never import the package.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from sync_cosmos_db_spark.session import register_pickle_by_value

# ---------------------------------------------------------------------------
# Public constants from ITU T.81 Annex K (example tables; every real
# JPEG toolchain ships these same numbers)
# ---------------------------------------------------------------------------

#: Annex K Table K.1 — luminance quantization, natural (row-major) order.
QUANT_LUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.int32)

#: Annex K Table K.2 — chrominance quantization.
QUANT_CHROM = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99]], dtype=np.int32)

#: Zig-zag scan order: ZIGZAG[k] = flat (row*8+col) index of the k-th
#: coefficient in scan order.
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)

# Annex K Huffman tables: (BITS[1..16] code-length counts, HUFFVAL).
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]

# Orthonormal 8-point DCT-II basis: A[u, x] = c(u)/2 · cos((2x+1)uπ/16).
# Forward 2-D DCT of a block B is A·B·Aᵀ; inverse is Aᵀ·F·A.
_A = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)
del _u, _c, _x


def scale_quant_table(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 5000/Q below 50, 200−2Q above; entries
    clamped to [1, 255].  Quality 100 ⇒ all-ones (lossless-but-for-DCT
    rounding)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be in [1, 100], got {quality}")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base.astype(np.int64) * s + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """floor(x + 0.5) — the module-wide deterministic rounding.

    Inputs are first snapped to a 1e-6 grid: the float DCT basis
    carries ~1e-13 relative error, so a mathematically exact tie like
    8s/q = 2.5 arrives as 2.4999999999999996 and would round DOWN
    while exact arithmetic rounds up — the snap restores exact-
    arithmetic tie behavior for every value whose true grid is coarser
    than 1e-6 (all DC-only content), keeping the decoded output a
    closed-form function of the input for the roundtrip oracle."""
    snapped = np.floor(x * 1e6 + 0.5) / 1e6
    return np.floor(snapped + 0.5).astype(np.int32)


# ---------------------------------------------------------------------------
# Bit I/O
# ---------------------------------------------------------------------------

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
            if byte == 0xFF:          # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per T.81


class _BitReader:
    """Entropy-segment bit reader: un-stuffs 0xFF00, stops at markers
    (leaving the position ON the 0xFF) so the caller can see RSTn/EOI."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker_hit: int | None = None

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG bitstream truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:                      # a real marker terminates the segment
                self.marker_hit = nxt
                raise ValueError(
                    f"JPEG entropy data ended at marker 0xFF{nxt:02X}")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        bit = (self.acc >> self.nbits) & 1
        # drop consumed high bits so acc stays a SMALL int — without
        # this the accumulator grows by 8 bits per byte read and bigint
        # shifts turn the scan decode quadratic on large images
        self.acc &= (1 << self.nbits) - 1
        return bit

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> int:
        """Byte-align and consume the next marker (for RSTn); returns
        the marker's second byte."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos < len(d) and d[self.pos] != 0xFF:
            self.pos += 1              # skip pad bits / stray bytes
        if self.pos + 1 >= len(d):
            raise ValueError("expected restart marker, hit EOF")
        m = d[self.pos + 1]
        self.pos += 2
        return m


# ---------------------------------------------------------------------------
# Huffman tables
# ---------------------------------------------------------------------------

def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical T.81 code assignment: value -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffDecoder:
    """Canonical decode via per-length (mincode, maxcode, valptr)."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                code += bits[length - 1]
                k += bits[length - 1]
                self.maxcode[length] = code - 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = br.read_bit()
        length = 1
        while code > self.maxcode[length]:
            code = (code << 1) | br.read_bit()
            length += 1
            if length > 16:
                raise ValueError("invalid JPEG Huffman code (>16 bits)")
        return self.vals[self.valptr[length] + code - self.mincode[length]]


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t low bits to the signed DC/AC difference."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) → (n_blocks, 8, 8), H and W already multiples of 8."""
    h, w = plane.shape
    return (plane.reshape(h // 8, 8, w // 8, 8)
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def _pad_edge(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    h, w = plane.shape
    ph = (mh - h % mh) % mh
    pw = (mw - w % mw) % mw
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


def _encode_component_blocks(blocks: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Forward DCT + quantize all blocks of one component at once.
    Returns int32 (n_blocks, 64) in ZIG-ZAG order."""
    shifted = blocks.astype(np.float64) - 128.0
    coefs = np.einsum("ux,nxy,vy->nuv", _A, shifted, _A)
    quant = _round_half_up(coefs / q.astype(np.float64))
    return quant.reshape(-1, 64)[:, ZIGZAG]


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    """(H, W, 3) uint8 → (H, W, 3) int32 YCbCr, JFIF/BT.601, rounded
    floor(x+0.5), clamped to [0, 255]."""
    r = px[..., 0].astype(np.float64)
    g = px[..., 1].astype(np.float64)
    b = px[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    out = np.stack([y, cb, cr], axis=-1)
    return np.clip(_round_half_up(out), 0, 255)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    out = np.stack([r, g, b], axis=-1)
    return np.clip(_round_half_up(out), 0, 255).astype(np.uint8)


def _entropy_encode(bw: _BitWriter, zz: np.ndarray, pred: int,
                    dc_codes: dict, ac_codes: dict) -> int:
    """Entropy-encode one zig-zag block; returns the new DC predictor."""
    dc = int(zz[0])
    diff = dc - pred
    t = _category(diff)
    code, length = dc_codes[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]      # ZRL
            bw.write(code, length)
            run -= 16
        t = _category(v)
        code, length = ac_codes[(run << 4) | t]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << t) - 1, t)
        run = 0
    if last_nz != 63:
        code, length = ac_codes[0x00]          # EOB
        bw.write(code, length)
    return dc


def jpeg_encode(width: int, height: int, pixels: bytes,
                n_channels: int = 1, quality: int = 75,
                subsample: bool | str = False,
                restart_interval: int = 0) -> bytes:
    """Encode raw pixels as a baseline JFIF JPEG.

    ``pixels``: row-major bytes — grayscale (``n_channels=1``) or
    interleaved RGB (``n_channels=3``).  ``subsample=True`` (or
    ``"420"``) uses 4:2:0 chroma (2×2 box average), ``"422"`` uses
    4:2:2 (horizontal 1×2 average — the other sampling layout the
    decoder's generic (hs, vs) path accepts, so it has a real encoder
    test vector too); default is 4:4:4.  Annex K quantization scaled by
    ``quality`` (libjpeg formula) and Annex K Huffman tables.
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many MCUs (predictor reset + byte alignment) — the structure
    camera JPEGs use, so the decoder's restart path has a real test
    vector."""
    if n_channels not in (1, 3):
        raise ValueError("n_channels must be 1 or 3")
    if len(pixels) != width * height * n_channels:
        raise ValueError(f"pixels: expected {width*height*n_channels} "
                         f"bytes, got {len(pixels)}")
    mode = "420" if subsample is True else (subsample or None)
    if mode not in (None, "420", "422"):
        raise ValueError("subsample must be False, True, '420', or '422'")
    if mode and n_channels == 1:
        mode = None

    qlum = scale_quant_table(QUANT_LUM, quality)
    qchrom = scale_quant_table(QUANT_CHROM, quality)
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, width, n_channels)

    if n_channels == 1:
        planes = [arr[..., 0].astype(np.int32)]
        quants = [qlum]
        samp = [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(arr)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if mode == "420":
            ye = _pad_edge(y, 2, 2).astype(np.float64)
            cbe = _pad_edge(cb, 2, 2).astype(np.float64)
            cre = _pad_edge(cr, 2, 2).astype(np.float64)
            cb = np.clip(_round_half_up(
                (cbe[0::2, 0::2] + cbe[0::2, 1::2]
                 + cbe[1::2, 0::2] + cbe[1::2, 1::2]) / 4.0), 0, 255)
            cr = np.clip(_round_half_up(
                (cre[0::2, 0::2] + cre[0::2, 1::2]
                 + cre[1::2, 0::2] + cre[1::2, 1::2]) / 4.0), 0, 255)
            y = np.rint(ye).astype(np.int32)
            samp = [(2, 2), (1, 1), (1, 1)]
        elif mode == "422":
            ye = _pad_edge(y, 1, 2).astype(np.float64)
            cbe = _pad_edge(cb, 1, 2).astype(np.float64)
            cre = _pad_edge(cr, 1, 2).astype(np.float64)
            cb = np.clip(_round_half_up(
                (cbe[:, 0::2] + cbe[:, 1::2]) / 2.0), 0, 255)
            cr = np.clip(_round_half_up(
                (cre[:, 0::2] + cre[:, 1::2]) / 2.0), 0, 255)
            y = np.rint(ye).astype(np.int32)
            samp = [(2, 1), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        quants = [qlum, qchrom, qchrom]

    hmax = max(h for h, _ in samp)
    vmax = max(v for _, v in samp)

    # Per-component padded planes and per-MCU block grids.
    mcu_w = 8 * hmax
    mcu_h = 8 * vmax
    mcus_x = -(-width // mcu_w)
    mcus_y = -(-height // mcu_h)
    comp_zz: list[np.ndarray] = []
    comp_bx: list[int] = []
    for (hs, vs), plane, q in zip(samp, planes, quants):
        tw = mcus_x * 8 * hs
        th = mcus_y * 8 * vs
        p = plane
        p = np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                   mode="edge")
        comp_zz.append(_encode_component_blocks(_blockify(p), q))
        comp_bx.append(tw // 8)

    dc_l = _build_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_l = _build_codes(AC_LUM_BITS, AC_LUM_VALS)
    dc_c = _build_codes(DC_CHROM_BITS, DC_CHROM_VALS)
    ac_c = _build_codes(AC_CHROM_BITS, AC_CHROM_VALS)
    tables = ([(dc_l, ac_l)] if n_channels == 1
              else [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)])

    bw = _BitWriter()
    preds = [0] * len(planes)
    mcu_index = 0
    rst_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (restart_interval and mcu_index
                    and mcu_index % restart_interval == 0):
                bw.flush()                       # byte-align with 1-pad
                bw.out += bytes([0xFF, 0xD0 + rst_count % 8])
                rst_count += 1
                preds = [0] * len(planes)
            mcu_index += 1
            for ci, (hs, vs) in enumerate(samp):
                bx = comp_bx[ci]
                for by in range(vs):
                    for bxx in range(hs):
                        bi = (my * vs + by) * bx + mx * hs + bxx
                        preds[ci] = _entropy_encode(
                            bw, comp_zz[ci][bi], preds[ci], *tables[ci])
    bw.flush()

    import struct

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")                       # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_lum = qlum.reshape(64)[ZIGZAG].astype(np.uint8).tobytes()
    out += seg(0xDB, b"\x00" + zz_lum)                 # DQT 0
    if n_channels == 3:
        zz_ch = qchrom.reshape(64)[ZIGZAG].astype(np.uint8).tobytes()
        out += seg(0xDB, b"\x01" + zz_ch)              # DQT 1
    sof = struct.pack(">BHHB", 8, height, width, n_channels)
    for ci, (hs, vs) in enumerate(samp):
        tq = 0 if ci == 0 else 1
        sof += struct.pack(">BBB", ci + 1, (hs << 4) | vs, tq)
    out += seg(0xC0, sof)                              # SOF0 baseline
    for tc_th, bits, vals in [
            (0x00, DC_LUM_BITS, DC_LUM_VALS),
            (0x10, AC_LUM_BITS, AC_LUM_VALS)] + (
            [(0x01, DC_CHROM_BITS, DC_CHROM_VALS),
             (0x11, AC_CHROM_BITS, AC_CHROM_VALS)] if n_channels == 3
            else []):
        out += seg(0xC4, bytes([tc_th] + bits + vals))  # DHT
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))  # DRI
    sos = bytes([n_channels])
    for ci in range(n_channels):
        td_ta = 0x00 if ci == 0 else 0x11
        sos += bytes([ci + 1, td_ta])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)                              # SOS
    out += bw.out
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

# Decompression-bomb guard: reject a SOF declaring more pixels than
# this before allocating coefficient storage.  The default (16.7 MP)
# keeps the vectorized IDCT's float64 peak per component under ~150 MB
# inside one Spark task, sized for this engine's synthetic-asset test
# corpus.  Deployments decoding real camera imagery (20-45 MP bodies
# are common; PIL's comparable bomb guard defaults to ~178 MP) should
# raise it via the module constant or the ``max_pixels`` decode
# parameter rather than patching the check (ADVICE r12).
MAX_DECODE_PIXELS = 1 << 24


def jpeg_decode(b: bytes, max_pixels: int | None = None):
    """Decode a baseline JFIF JPEG.  Returns ``(width, height,
    n_components, pixels)`` with ``pixels`` row-major bytes (grayscale
    or interleaved RGB).  Raises ``ValueError`` on non-baseline
    features (progressive SOF2, arithmetic coding, 12-bit, sampling
    factors > 2) — honest failures, not silent garbage.
    ``max_pixels`` overrides :data:`MAX_DECODE_PIXELS` per call.

    EVERY malformed-input failure surfaces as ``ValueError``: a
    decoder fed 100 TB of untrusted blobs must have one catchable
    failure type, and round-11 fuzzing (random bytes, truncations,
    bit flips) showed raw parsing leaks ``struct.error`` /
    ``KeyError`` (undeclared Huffman table id) / ``OverflowError`` /
    ``StopIteration`` (SOS naming an absent component) otherwise —
    each of which would kill a Spark task instead of flagging the
    row ``decode_ok=false``."""
    import struct as _struct

    try:
        return _jpeg_decode_raw(
            b, MAX_DECODE_PIXELS if max_pixels is None else max_pixels)
    except ValueError:
        raise
    except (_struct.error, KeyError, IndexError, OverflowError,
            StopIteration, MemoryError) as ex:
        raise ValueError(
            f"corrupt JPEG ({type(ex).__name__}: {ex})") from ex


def _jpeg_decode_raw(b: bytes, max_pixels: int = MAX_DECODE_PIXELS):
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    import struct

    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    frame = None
    restart_interval = 0

    while pos < len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        # T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes — skip the run so the marker byte is never read
        # as 0xFF itself (ADVICE r11: legal padding was flagged corrupt).
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:                              # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue                                    # standalone
        (ln,) = struct.unpack(">H", b[pos:pos + 2])
        payload = b[pos + 2:pos + ln]
        if marker == 0xDB:                              # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables not baseline")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(
                    payload[p + 1:p + 65], dtype=np.uint8)
                quant[tq] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xC4:                            # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1:p + 17])
                n = sum(bits)
                vals = list(payload[p + 17:p + 17 + n])
                dec = _HuffDecoder(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = dec
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:          # SOF0/1 baseline
            prec, h, w, nc = struct.unpack(">BHHB", payload[:6])
            if prec != 8:
                raise ValueError(f"{prec}-bit precision not baseline")
            if w < 1 or h < 1 or w * h > max_pixels:
                # a flipped SOF dimension must not become a memory/CPU
                # bomb mid-pipeline (round-11 fuzz guard); the default
                # MAX_DECODE_PIXELS rationale and the raise-it knob for
                # real camera imagery live on the constant above
                raise ValueError(
                    f"JPEG dimensions {w}x{h} exceed max_pixels="
                    f"{max_pixels}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = payload[6 + 3 * ci:9 + 3 * ci]
                hs, vs = hv >> 4, hv & 0x0F
                if not (1 <= hs <= 2 and 1 <= vs <= 2):
                    raise ValueError(
                        f"sampling factors {hs}x{vs} unsupported")
                comps.append({"id": cid, "h": hs, "v": vs, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"SOF marker 0xFF{marker:02X} is not baseline sequential")
        elif marker == 0xDD:                            # DRI
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:                            # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = payload[0]
            if ns < len(frame["comps"]):
                # T.81 permits one-scan-per-component baseline files,
                # but this decoder returns after the FIRST SOS; decoding
                # only the Y scan and zero-filling Cb/Cr would be silent
                # garbage with decode_ok=true (ADVICE r11 medium).  Fail
                # honestly instead.
                raise ValueError(
                    "multi-scan / non-interleaved baseline not supported")
            scan = []
            for si in range(ns):
                cs, tdta = payload[1 + 2 * si], payload[2 + 2 * si]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tdta >> 4, tdta & 0x0F))
            pos += ln
            return _decode_scan(b, pos, frame, scan, quant,
                                huff_dc, huff_ac, restart_interval)
        pos += ln
    raise ValueError("no SOS marker found")


def _decode_scan(b: bytes, pos: int, frame: dict, scan: list,
                 quant: dict, huff_dc: dict, huff_ac: dict,
                 restart_interval: int):
    w, h = frame["w"], frame["h"]
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # Per-component coefficient storage (n_blocks, 64) in zigzag order.
    store: list[np.ndarray] = []
    bx_list: list[int] = []
    for c in comps:
        bx = mcus_x * c["h"]
        by = mcus_y * c["v"]
        store.append(np.zeros((bx * by, 64), dtype=np.int32))
        bx_list.append(bx)

    br = _BitReader(b, pos)
    preds = [0] * len(comps)
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (restart_interval and mcu_index
                    and mcu_index % restart_interval == 0):
                m = br.align_to_marker()
                if not 0xD0 <= m <= 0xD7:
                    raise ValueError(
                        f"expected RSTn, got 0xFF{m:02X}")
                preds = [0] * len(comps)
            for si, (c, td, ta) in enumerate(scan):
                ci = comps.index(c)
                dc_dec, ac_dec = huff_dc[td], huff_ac[ta]
                for byy in range(c["v"]):
                    for bxx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        t = dc_dec.decode(br)
                        diff = _extend(br.read_bits(t), t) if t else 0
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = ac_dec.decode(br)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16          # ZRL
                                    continue
                                break                # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(br.read_bits(s), s)
                            k += 1
                        bi = ((my * c["v"] + byy) * bx_list[ci]
                              + mx * c["h"] + bxx)
                        store[ci][bi] = zz
            mcu_index += 1

    # Dequantize + IDCT each component in one vectorized pass.
    planes = []
    for ci, c in enumerate(comps):
        q = quant[c["tq"]].reshape(64)[ZIGZAG].astype(np.float64)
        coefs = np.zeros_like(store[ci], dtype=np.float64)
        coefs[:, ZIGZAG] = store[ci] * q
        blocks = coefs.reshape(-1, 8, 8)
        spatial = np.einsum("ux,nuv,vy->nxy", _A, blocks, _A) + 128.0
        spatial = np.clip(_round_half_up(spatial), 0, 255)
        bx = bx_list[ci]
        by = spatial.shape[0] // bx
        plane = (spatial.reshape(by, bx, 8, 8)
                 .transpose(0, 2, 1, 3).reshape(by * 8, bx * 8))
        # Upsample to full MCU resolution by pixel replication.
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = plane.repeat(ry, axis=0).repeat(rx, axis=1)
        planes.append(plane[:h, :w])

    if len(comps) == 1:
        px = planes[0].astype(np.uint8)
        return w, h, 1, px.tobytes()
    rgb = _ycbcr_to_rgb(planes[0], planes[1], planes[2])
    return w, h, 3, rgb.tobytes()


# ---------------------------------------------------------------------------
# Spark kernels (Arrow-batched, self-shipping via pickle-by-value)
# ---------------------------------------------------------------------------

JPEG_DECODED_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_components", T.IntegerType()),
    T.StructField("mean_px", T.DoubleType()),
    T.StructField("decode_ok", T.BooleanType()),
])


def synth_jpeg_assets(params: DataFrame, quality: int = 50) -> DataFrame:
    """Encode one solid-gray baseline JPEG per row of
    ``(asset_id, width, height, gray)`` — the distributed encode half
    of the roundtrip query.

    ``spread()`` first (r18, guide §2.5): the params projection of a
    compact single-split scan otherwise runs the WHOLE Python
    encode+decode roundtrip in ONE task — profiled 2.67 s single-task
    (the member's entire wall) at sf0.1; mapInPandas is opaque to the
    planner, so nothing downstream re-partitions.  Floor-only: a wide
    scan at corpus scale is left alone.  The decode inherits the
    spread partitioning (same stage, no extra shuffle)."""
    from sync_cosmos_db_spark.operators.partitioning import spread

    params = spread(params)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            content = [
                jpeg_encode(int(wd), int(ht),
                            bytes([int(gv)]) * (int(wd) * int(ht)),
                            n_channels=1, quality=quality)
                for wd, ht, gv in zip(pdf["width"], pdf["height"],
                                      pdf["gray"])]
            yield _pd.DataFrame({"asset_id": pdf["asset_id"],
                                 "content": content})

    return params.mapInPandas(
        run, schema="asset_id bigint, content binary")


def decode_jpeg_assets(assets: DataFrame) -> DataFrame:
    """Decode binary JPEG payloads to typed metadata + mean pixel value
    (DOUBLE, exact for the solid-tile synthesis above)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            out = []
            for asset_id, content in zip(pdf["asset_id"], pdf["content"]):
                try:
                    wd, ht, nc, px = jpeg_decode(bytes(content))
                    arr = _np.frombuffer(px, dtype=_np.uint8)
                    out.append({"asset_id": asset_id, "width": wd,
                                "height": ht, "n_components": nc,
                                "mean_px": float(arr.mean()),
                                "decode_ok": True})
                except (ValueError, IndexError):
                    out.append({"asset_id": asset_id, "width": 0,
                                "height": 0, "n_components": 0,
                                "mean_px": 0.0, "decode_ok": False})
            yield _pd.DataFrame(
                out, columns=[f.name for f in JPEG_DECODED_SCHEMA.fields])

    return assets.mapInPandas(run, schema=JPEG_DECODED_SCHEMA)


register_pickle_by_value(__name__)
