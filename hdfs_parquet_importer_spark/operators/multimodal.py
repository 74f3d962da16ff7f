"""Multimodal column handling: opaque ``binary`` payloads + typed
metadata, processed with Arrow-batched ``mapInPandas`` pipelines.

Design (driver north_star): image/audio/video travel as ``binary``
columns next to a typed metadata struct; decode / feature-extract /
resize / frame-sample run as Pandas functions over ``mapInPandas`` so
each task processes Arrow record batches (vectorized transfer, no
per-row pickling). At 100 TB the payload column dominates bytes:
queries that don't touch it must prune it at the parquet scan (keep
payloads in their own parquet column, never inside a struct with hot
metadata), and decode stages should run AFTER filters so only
surviving rows are decoded. Every stage is one per-row function run by
:func:`_map_rows`, so fused stages compose row functions instead of
copying them, except the JPEG roundtrip family: it runs the codec once
per batch (:func:`_roundtrip_batch` via :func:`_map_batches`), every
numpy step over a stack of same-shape images.

Codecs are REAL, stdlib + numpy: PNG (grayscale 8-bit: chunk CRCs,
zlib, all five scanline filters), JPEG (baseline and progressive DCT,
grayscale and YCbCr color at 4:4:4 or 4:2:0, restart markers; the
decoder parses whatever DQT/DHT/SOF/DRI the file carries, and
arithmetic, lossless and hierarchical streams raise
NotImplementedError by name), WAV (PCM16 mono) and MJPEG-in-AVI video
(RIFF container write/parse with idx1 cross-check; every frame decodes
through the JPEG decoder; non-MJPEG codecs raise NotImplementedError by
name). ``decode_media`` dispatches on the payload magic and returns
decoded pixel/sample statistics; ``resize_image`` does a real
nearest-neighbor resample (decode -> numpy index -> re-encode). The
legacy ``SGMM`` fake container is still accepted for plumbing tests.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from functools import lru_cache as _lru_cache
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Payload header for the synthetic corpus: magic, kind, width, height.
# Kept as (format, size) primitives — struct.Struct objects can't be
# pickled into UDF closures.
_HDR_FMT = "<4sBHH"
_HDR_SIZE = struct.calcsize(_HDR_FMT)
_MAGIC = b"SGMM"
_KINDS = {"image": 1, "audio": 2, "video": 3}


def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


_LONG, _INT = T.LongType(), T.IntegerType()
_STR, _BIN = T.StringType(), T.BinaryType()

MEDIA_SCHEMA = _struct(
    ("media_id", _LONG),
    ("kind", _STR),
    ("payload", _BIN),
    (
        "meta",
        _struct(
            ("width", _INT), ("height", _INT), ("n_frames", _INT), ("format", _STR)
        ),
    ),
)
DECODED_SCHEMA = _struct(
    ("media_id", _LONG), ("width", _INT), ("height", _INT),
    ("n_bytes", _LONG), ("byte_sum", _LONG), ("crc32", _LONG),
)
DECODED_MEDIA_SCHEMA = _struct(
    ("media_id", _LONG), ("format", _STR), ("width", _INT), ("height", _INT),
    ("n_values", _LONG), ("value_sum", _LONG), ("value_min", _LONG),
    ("value_max", _LONG),
)
FEATURES_SCHEMA = _struct(
    ("media_id", _LONG), ("feature", T.ArrayType(T.FloatType()))
)
FRAMES_SCHEMA = _struct(
    ("media_id", _LONG),
    ("frame_idx", _INT),
    ("frame_crc32", _LONG),
    # Hex of the raw frame bytes — the cross-engine-checkable
    # fingerprint (DuckDB has sha256 but not crc32, and SGMM frame
    # slots ARE sha256 digests, so an oracle can re-derive this column
    # from the generative formula).
    ("frame_hex", _STR),
)
_PAYLOAD_SCHEMA = _struct(("media_id", _LONG), ("payload", _BIN))
JPEG_ROUNDTRIP_SCHEMA = _struct(
    ("media_id", _LONG), ("width", _LONG), ("height", _LONG),
    ("n_pixels", _LONG), ("max_abs_err", _LONG),
)
JPEG_PROGRESSIVE_SCHEMA = _struct(
    *((f.name, f.dataType) for f in JPEG_ROUNDTRIP_SCHEMA.fields),
    ("matches_sequential", T.BooleanType()),
)
AUDIO_ENERGY_SCHEMA = _struct(
    ("media_id", _LONG), ("rate", _LONG), ("n_samples", _LONG),
    ("sample_sum", _LONG), ("energy", _LONG),
)
_DHASH_SCHEMA = _struct(
    ("media_id", _LONG), ("dhash_hi", _LONG), ("dhash_lo", _LONG)
)
_VIDEO_SCHEMA = _struct(("media_id", _LONG), ("kind", _STR), ("payload", _BIN))
AVI_FRAMES_SCHEMA = _struct(
    ("media_id", _LONG), ("frame_idx", _LONG), ("width", _LONG),
    ("height", _LONG), ("min_gray", _LONG), ("max_gray", _LONG),
)


def _map_batches(
    df: DataFrame, schema: T.StructType, batch_fn, *cols: str
) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` stage over ``df``'s ``cols``:
    ``batch_fn(*columns)`` gets one batch's columns (pandas Series)
    and returns the list of output tuples (in ``schema`` field order),
    so a stage may drop, keep or multiply rows without leaving its
    task. Only ``cols`` cross into Python."""
    names = schema.fieldNames()

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(batch_fn(*(pdf[c] for c in cols)), columns=names)

    return df.select(*cols).mapInPandas(run, schema)


def _map_rows(df: DataFrame, schema: T.StructType, row_fn, *cols: str) -> DataFrame:
    """:func:`_map_batches` with a per-row function: ``row_fn(*values)``
    returns the list of output tuples for one input row."""

    def batch(*columns) -> list[tuple]:
        return [out for vals in zip(*columns) for out in row_fn(*vals)]

    return _map_batches(df, schema, batch, *cols)


# --------------------------------------------------------------------------
# Real PNG codec (grayscale, 8-bit), stdlib-only: zlib + struct.
# Encoder cycles scanline filters None/Sub/Up so round-trips exercise
# more than the trivial filter; decoder implements all five PNG filter
# types and verifies every chunk CRC.
# --------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data))
    )


def encode_png_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Encode row-major 8-bit grayscale pixels as a real PNG."""
    if len(pixels) != width * height:
        raise ValueError(f"expected {width * height} pixels, got {len(pixels)}")
    raw = bytearray()
    prev = bytes(width)
    for y in range(height):
        line = pixels[y * width: (y + 1) * width]
        ft = y % 3  # cycle None / Sub / Up
        if ft == 0:
            filt = line
        elif ft == 1:
            filt = bytes(
                (line[x] - (line[x - 1] if x else 0)) & 0xFF for x in range(width)
            )
        else:
            filt = bytes((line[x] - prev[x]) & 0xFF for x in range(width))
        raw.append(ft)
        raw.extend(filt)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_gray(data: bytes) -> tuple[int, int, bytes]:
    """Decode a grayscale 8-bit PNG -> (width, height, pixel bytes).

    Verifies chunk CRCs, inflates IDAT, and reverses all five scanline
    filters (None/Sub/Up/Average/Paeth) per the PNG spec."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, width, height = 8, b"", None, None
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos: pos + 4])
        tag = data[pos + 4: pos + 8]
        chunk = data[pos + 8: pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length: pos + 12 + length])
        if zlib.crc32(tag + chunk) != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if (depth, color, comp, filt, interlace) != (8, 0, 0, 0, 0):
                raise ValueError(
                    "only 8-bit non-interlaced grayscale supported "
                    f"(got depth={depth} color={color} interlace={interlace})"
                )
        elif tag == b"IDAT":
            idat += chunk
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(idat)
    if len(raw) != height * (width + 1):
        raise ValueError("IDAT length does not match dimensions")
    out = bytearray()
    prev = bytes(width)
    p = 0
    for _y in range(height):
        ft = raw[p]
        line = bytearray(raw[p + 1: p + 1 + width])
        p += 1 + width
        if ft == 1:  # Sub
            for x in range(1, width):
                line[x] = (line[x] + line[x - 1]) & 0xFF
        elif ft == 2:  # Up
            for x in range(width):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(width):
                left = line[x - 1] if x else 0
                line[x] = (line[x] + (left + prev[x]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(width):
                a = line[x - 1] if x else 0
                b = prev[x]
                c = prev[x - 1] if x else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        out.extend(line)
        prev = bytes(line)
    return width, height, bytes(out)


# --------------------------------------------------------------------------
# Real JPEG codec (DCT, baseline + progressive, gray + YCbCr color),
# stdlib + numpy.
#
# One component-generic pipeline: gray is the 1-component case of the
# color layouts (BT.601 RGB->YCbCr, 4:4:4 or 4:2:0). Level shift ->
# 8x8 FDCT -> quality-scaled Annex K quantization (luminance tables
# for gray/Y, chrominance for Cb/Cr) -> zigzag -> DC-diff/AC-RLE
# Huffman coding with 0xFF byte stuffing, per-component DC
# predictors, and optional restart intervals. The decoder is GENERIC
# on the format (parses whatever DQT/DHT/SOF/DRI the file carries,
# unstuffs, honors restart markers, sampling factors 1 or 2), so it
# reads real-world baseline and progressive files, not just this
# encoder's output. JPEG is lossy, so unlike the PNG path the pixel
# oracle is an error-bound gate, not byte equality.
#
# Every numpy step takes a leading image axis, and the baseline entropy
# coder codes N same-shape images at once: a one-image encode or decode
# is the N = 1 case of the code the batch stage runs.
# --------------------------------------------------------------------------
_JPEG_STD_LUMA_QT = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
# Zigzag scan order: _ZIGZAG[k] = row-major block index of the k-th
# zigzag position.
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]
# Annex K.3.3 standard luminance Huffman tables: (BITS counts by code
# length 1..16, HUFFVAL). Round-trip safety does not depend on these
# being the published values (both halves share them via DHT), but
# using the standard tables keeps the output readable by any decoder.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_AC_VALS = [
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
]
assert sum(_AC_BITS) == len(_AC_VALS) == 162

# Annex K.1 standard chrominance quantization table and K.3.3 standard
# chrominance Huffman tables — the color encoder's Cb/Cr tables, same
# public source as the luminance set above.
_JPEG_STD_CHROMA_QT = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
assert sum(_AC_CHROMA_BITS) == len(_AC_CHROMA_VALS) == 162

# Table set t = (quant base, DC BITS, DC HUFFVAL, AC BITS, AC HUFFVAL):
# t = 0 luminance (gray / Y), t = 1 chrominance (Cb / Cr). A table set
# index is also the component's DQT slot and DHT id.
_TABLES = (
    (_JPEG_STD_LUMA_QT, _DC_BITS, _DC_VALS, _AC_BITS, _AC_VALS),
    (
        _JPEG_STD_CHROMA_QT, _DC_CHROMA_BITS, _DC_CHROMA_VALS,
        _AC_CHROMA_BITS, _AC_CHROMA_VALS,
    ),
)
# Encoder component layouts: (component id, h, v, table set) per
# component in SOF order. 4:2:0 gives luma 2x2 blocks per MCU.
_LAYOUTS = {
    "gray": ((1, 1, 1, 0),),
    "444": ((1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)),
    "420": ((1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)),
}


def _canonical(bits) -> Iterator[tuple[int, int]]:
    """(length, code) of each HUFFVAL position of a canonical Huffman
    table given its BITS counts (ITU T.81 C.2)."""
    code = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            yield length, code
            code += 1
        code <<= 1


@_lru_cache(maxsize=64)
def _huff_lookup(bits: bytes, vals: bytes) -> tuple[int, ...]:
    """65,536-entry lookahead table of one DHT table, built once per
    distinct table per process: entry ``w`` (the next 16 bits of the
    stream) is ``(symbol << 5) | code length`` of the code that
    prefixes ``w``, 0 when none does."""
    tab = [0] * 65536
    for (ln, code), v in zip(_canonical(bits), vals):
        lo, span = code << (16 - ln), 1 << (16 - ln)
        # An over-full BITS list runs codes past the code space.
        if lo < 65536:
            tab[lo: lo + span] = [(v << 5) | ln] * span
    return tuple(tab)


def _canonical_codes(bits, vals) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a canonical Huffman (BITS, HUFFVAL)."""
    return {v: (code, ln) for (ln, code), v in zip(_canonical(bits), vals)}


def _code_arrays(bits, vals):
    """int64 (code, length) arrays indexed by symbol for a canonical
    Huffman (BITS, HUFFVAL); length 0 marks a symbol the table lacks."""
    import numpy as np

    code, length = np.zeros(256, np.int64), np.zeros(256, np.int64)
    for v, (c, ln) in _canonical_codes(bits, vals).items():
        code[v], length[v] = c, ln
    return code, length


@_lru_cache(maxsize=None)
def _scaled_qt(quality: int, t: int) -> tuple[int, ...]:
    """libjpeg quality scaling of table set ``t``'s Annex K
    quantization table, built once per (quality, t) per process."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return tuple(min(255, max(1, (q * scale + 50) // 100)) for q in _TABLES[t][0])


@_lru_cache(maxsize=None)
def _dct_mat():
    """8x8 orthonormal DCT-II matrix, built once per process."""
    import math

    import numpy as np

    c = np.zeros((8, 8))
    for k in range(8):
        s = math.sqrt(1 / 8) if k == 0 else math.sqrt(2 / 8)
        for n in range(8):
            c[k, n] = s * math.cos(math.pi * (2 * n + 1) * k / 16)
    return c


def _raw_gray(px) -> bytes:
    """Normalize a pixel cell (binary column bytes OR int array column)
    to raw row-major bytes — the one coercion every encode stage uses,
    so their semantics cannot drift apart. Ints wrap modulo 256."""
    import numpy as np

    if isinstance(px, (bytes, bytearray)):
        return bytes(px)
    return np.asarray(px, dtype=np.int64).astype(np.uint8).tobytes()


class _BitWriter:
    """MSB-first bit accumulator for the progressive scans: a big int
    that moves out in whole bytes every few hundred bits; JPEG 0xFF
    byte stuffing happens once, in :meth:`flush`."""

    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        if self._nbits >= 256:
            self._drain()

    def _drain(self) -> None:
        keep = self._nbits & 7
        self._out += (self._acc >> keep).to_bytes(self._nbits >> 3, "big")
        self._acc &= (1 << keep) - 1
        self._nbits = keep

    def flush(self) -> bytes:
        """Pad the last byte with 1s and return everything written,
        0xFF-stuffed."""
        pad = -self._nbits % 8
        self.write((1 << pad) - 1, pad)
        self._drain()
        return bytes(self._out).replace(b"\xff", b"\xff\x00")


def _mag_bits(v: int) -> tuple[int, int]:
    """(size, appended-bits) for a DC diff / AC coefficient value."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    return size, (v if v > 0 else v + (1 << size) - 1)


def _cdiv(a: int, b: int) -> int:
    return -(-a // b)


def _check_size(n: int, width: int, height: int, nch: int) -> None:
    """An encoder input of ``n`` bytes must hold a non-empty
    ``width`` x ``height`` image of ``nch`` channels."""
    if n != width * height * nch:
        what = "pixels" if nch == 1 else "RGB bytes"
        raise ValueError(f"expected {width * height * nch} {what}, got {n}")
    if width == 0 or height == 0:
        raise ValueError("JPEG cannot encode an empty image")


def _mcus(width: int, height: int, layout: str) -> tuple[int, int]:
    """(MCU rows, MCU columns) of a ``width`` x ``height`` image."""
    mult = 8 * _LAYOUTS[layout][0][1]
    return _cdiv(height, mult), _cdiv(width, mult)


def _padded(px, layout: str):
    """Edge-replicate a uint8 (N, height, width, channels) image stack
    out to whole MCUs of ``layout`` ('gray', '444' or '420')."""
    import numpy as np

    n, height, width, nch = px.shape
    rows, cols = _mcus(width, height, layout)
    mult = 8 * _LAYOUTS[layout][0][1]  # MCU side in pixels
    out = np.empty((n, rows * mult, cols * mult, nch), dtype=np.uint8)
    out[:, :height, :width] = px
    out[:, height:, :width] = out[:, height - 1: height, :width]
    out[:, :, width:] = out[:, :, width - 1: width]
    return out


def _image(pixels: bytes, width: int, height: int, layout: str):
    """One encoder input, checked and :func:`_padded`, as a uint8
    (1, H, W, channels) stack: 1 channel for 'gray', RGB for '444' /
    '420'."""
    import numpy as np

    nch = 1 if layout == "gray" else 3
    _check_size(len(pixels), width, height, nch)
    px = np.frombuffer(pixels, dtype=np.uint8).reshape(1, height, width, nch)
    return _padded(px, layout)


def _ycbcr_planes(px, layout: str):
    """``(components, planes)`` of a :func:`_padded` uint8 (N, H, W,
    channels) image stack for ``layout``: gray pixels are the Y plane
    as is, RGB converts to BT.601 full-range YCbCr, each (N, H, W).
    Subsampled chroma is then 2x2 box-averaged, so the padded region
    averages to the edge value — exactly what the decoder replicates
    back. Conversion is per pixel, so converting the padded stack
    equals padding the converted planes, float for float."""
    import numpy as np

    px = px.astype(np.float64)
    planes = [px[..., 0]]
    if px.shape[3] == 3:
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    comps = _LAYOUTS[layout]
    hmax = comps[0][1]
    out = []
    for (_, h, _, _), p in zip(comps, planes):
        if h < hmax:
            p = (
                p[..., 0::2, 0::2] + p[..., 1::2, 0::2]
                + p[..., 0::2, 1::2] + p[..., 1::2, 1::2]
            ) / 4.0
        out.append(p)
    return comps, out


def _zigzag_coefs(plane, qt: tuple[int, ...]):
    """FDCT + quantize every level-shifted 8x8 block of padded
    (..., H, W) planes -> int64 (..., block rows, block cols, 64) in
    zigzag order."""
    import numpy as np

    qmat = np.array(qt, dtype=np.float64).reshape(8, 8)
    c = _dct_mat()
    *lead, hgt, wid = plane.shape
    rows, cols = hgt // 8, wid // 8
    # All blocks at once: a stacked matmul runs the same 8x8 product
    # per block as a per-block loop, bit for bit (test-pinned).
    blocks = plane.reshape(*lead, rows, 8, cols, 8).swapaxes(-3, -2)
    blocks = np.ascontiguousarray(blocks) - 128.0
    q = np.round((c @ blocks @ c.T) / qmat).astype(np.int64)
    return q.reshape(*lead, rows, cols, 64)[..., _ZIGZAG]


def _quantized(px, quality: int, layout: str):
    """The front half every encoder shares, over a :func:`_padded`
    uint8 (N, H, W, channels) stack: ``(components, scaled quant
    tables by table set, per-component int64 (N, rows, cols, 64)
    zigzag coefficients)``."""
    comps, planes = _ycbcr_planes(px, layout)
    qts = [_scaled_qt(quality, t) for t in range(comps[-1][3] + 1)]
    return comps, qts, [_zigzag_coefs(p, qts[c[3]]) for p, c in zip(planes, comps)]


def _restart_split(units: list, restart_interval: int, write) -> bytes:
    """Entropy bytes of one scan: ``write`` codes each run of
    ``restart_interval`` units from fresh state (DC predictors, EOB
    run, correction queue — what a T.81 restart resets), and runs join
    with RST0-7 markers, cycling, never after the last run."""
    if not restart_interval:
        return write(units)
    return _join_intervals(
        [
            write(units[i: i + restart_interval])
            for i in range(0, len(units), restart_interval)
        ]
    )


def _join_intervals(parts: list) -> bytes:
    """One scan's restart intervals joined by RST0-7, cycling."""
    out = [parts[0]]
    for j in range(1, len(parts)):
        out += (bytes([0xFF, 0xD0 + (j - 1) % 8]), parts[j])
    return b"".join(out)


def _magnitudes(v):
    """(size, appended bits) of an int64 array of DC diffs / AC
    coefficients, elementwise — :func:`_mag_bits` vectorized."""
    import numpy as np

    size = np.frexp(np.abs(v))[1].astype(np.int64)  # = bit_length(|v|)
    return size, np.where(v < 0, v + (1 << size) - 1, v)


@_lru_cache(maxsize=256)
def _scan_plan(comps, mcus_y: int, mcus_x: int, restart_interval: int) -> tuple:
    """What :func:`_entropy_code` needs to know of a scan over ``comps``
    on an ``mcus_y`` x ``mcus_x`` MCU grid (a single-component scan is
    the 1x1-sampled case, one block per MCU), built once per shape per
    process -> ``(order, comp, seg, prev, tail, dc, ac)``:

    - ``order``: the scan's blocks — per MCU in raster order, each
      component's h x v blocks in raster order, components in SOF
      order (T.81 A.2.3) — as indexes into the components' block grids
      flattened and concatenated; ``comp`` the component of each;
    - ``seg``: each block's restart interval; ``prev``: the block
      holding its DC predictor (the last one of its component in its
      interval; -1 for none, F.2.1.3.1); ``tail``: each interval's last
      block;
    - ``dc`` / ``ac``: the (code, length) :func:`_code_arrays` of each
      component's table set, stacked: indexed [component, symbol]."""
    import numpy as np

    order, comp, base = [], [], 0
    for ci, (_, h, v, _) in enumerate(comps):
        grid = np.arange(mcus_y * v * mcus_x * h).reshape(mcus_y, v, mcus_x, h)
        order.append(grid.transpose(0, 2, 1, 3).reshape(mcus_y * mcus_x, v * h) + base)
        comp.append(np.full((mcus_y * mcus_x, v * h), ci))
        base += grid.size
    order = np.concatenate(order, axis=1).ravel()
    comp = np.concatenate(comp, axis=1).ravel()
    unit = np.arange(order.size) // (order.size // (mcus_y * mcus_x))
    seg = unit // restart_interval if restart_interval else np.zeros_like(unit)
    prev = np.full(order.size, -1)
    for ci in range(len(comps)):
        idx = np.flatnonzero(comp == ci)
        p = np.concatenate([[-1], idx[:-1]])
        p[seg[p] != seg[idx]] = -1
        prev[idx] = p
    tail = np.flatnonzero(np.append(seg[1:] != seg[:-1], True))

    def stacked(i: int) -> tuple:  # (BITS, HUFFVAL) at _TABLES[t][i: i + 2]
        arrays = [_code_arrays(*_TABLES[t][i: i + 2]) for *_, t in comps]
        return tuple(np.stack(x) for x in zip(*arrays))

    return order, comp, seg, prev, tail, stacked(1), stacked(3)


def _pack_bits(vals, lens) -> bytes:
    """MSB-first bytes of the bit strings (``vals[i]``, ``lens[i]``
    bits) in order; their total length is a whole number of bytes.
    Runs in chunks of events, so a large image needs little memory."""
    import numpy as np

    ends = np.cumsum(lens)
    bits = np.empty(int(ends[-1]), dtype=np.uint8)
    step = 1 << 16
    for a in range(0, len(lens), step):
        v, ln, e = vals[a: a + step], lens[a: a + step], ends[a: a + step]
        lo, hi = int(e[0] - ln[0]), int(e[-1])
        # Bit j of the chunk belongs to event i = repeat index and is
        # its bit (end_i - 1 - j) counted from the least significant.
        shift = np.repeat(e - 1, ln) - np.arange(lo, hi)
        bits[lo:hi] = (np.repeat(v, ln) >> shift) & 1
    return np.packbits(bits).tobytes()


def _entropy_code(blocks, plan, dc: bool, ac: bool) -> list:
    """The Huffman coder of every sequential-style scan, for the same
    scan of N images at once -> each image's entropy bytes.

    ``blocks`` are int64 (N, B, 64) zigzag blocks in the scan order of
    ``plan`` (:func:`_scan_plan`); only position 0 is read without
    ``ac``. ``dc`` / ``ac`` say which halves the scan codes (both, or
    the progressive DC-only / AC-only scans).

    Every code becomes an event (bits, length) keyed by (image,
    block, position): DC differences from per-component predictors;
    AC (run, size) symbols of the nonzero coefficients, each after one
    ZRL per 16 zeros of its run; EOB after a block's last nonzero
    unless that is position 63; and a pad of 1-bits closing each
    restart interval on a byte. The sorted events pack in one pass,
    then each interval is 0xFF-stuffed and joined to the next with
    RST0-7."""
    import numpy as np

    _, comp, seg, prev, tail, dc_tab, ac_tab = plan
    n, nb = blocks.shape[:2]
    nseg = int(seg[-1]) + 1
    keys, vals, lens = [], [], []

    def emit(img, blk, pos, tab, sym, size=0, mag=0) -> None:
        code, length = tab
        keys.append((img * nb + blk) * 130 + pos)
        vals.append((code[comp[blk], sym] << size) | mag)
        lens.append(length[comp[blk], sym] + size)

    if dc:
        d = blocks[:, :, 0]
        size, mag = _magnitudes(d - np.where(prev >= 0, d[:, prev], 0))
        img = np.repeat(np.arange(n), nb)
        blk = np.tile(np.arange(nb), n)
        emit(img, blk, 0, dc_tab, size.ravel(), size.ravel(), mag.ravel())
    if ac:
        i, b, k = np.nonzero(blocks[:, :, 1:])
        k += 1
        v = blocks[i, b, k]
        first = np.ones(k.size, dtype=bool)  # first nonzero of its block
        first[1:] = (i[1:] != i[:-1]) | (b[1:] != b[:-1])
        run = k - 1 - np.where(first, 0, np.roll(k, 1))
        size, mag = _magnitudes(v)
        emit(i, b, 2 * k, ac_tab, ((run & 15) << 4) | size, size, mag)
        z = np.repeat(np.arange(k.size), run >> 4)
        emit(i[z], b[z], 2 * k[z] - 1, ac_tab, 0xF0)
        end = np.ones(k.size, dtype=bool)  # last nonzero of its block
        end[:-1] = first[1:]
        last = np.zeros((n, nb), dtype=np.int64)
        last[i[end], b[end]] = k[end]
        i, b = np.nonzero(last < 63)
        emit(i, b, 128, ac_tab, 0x00)
    keys, vals, lens = (np.concatenate(x) for x in (keys, vals, lens))
    block = keys // 130
    bits = np.bincount(
        block // nb * nseg + seg[block % nb], weights=lens, minlength=n * nseg
    ).astype(np.int64)
    pad = -bits % 8
    pad_keys = (np.arange(n)[:, None] * nb + tail).ravel() * 130 + 129
    order = np.argsort(np.concatenate([keys, pad_keys]), kind="stable")
    stream = _pack_bits(
        np.concatenate([vals, (1 << pad) - 1])[order],
        np.concatenate([lens, pad])[order],
    )
    cuts = (np.cumsum(bits + pad) // 8).tolist()
    parts = [
        stream[a:z].replace(b"\xff", b"\xff\x00")
        for a, z in zip([0] + cuts, cuts)
    ]
    return [_join_intervals(parts[j: j + nseg]) for j in range(0, n * nseg, nseg)]


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, 2 + len(payload)) + payload


def _sos(comps, ss: int, se: int, ahal: int = 0) -> bytes:
    """SOS header for a scan over ``comps``. A DC-only scan (Se = 0)
    writes Ta = 0: strict decoders reject a nonzero one there."""
    sel = bytes(
        x for cid, _, _, t in comps for x in (cid, (t << 4) | (t if se else 0))
    )
    return _jpeg_seg(0xDA, bytes([len(comps)]) + sel + bytes([ss, se, ahal]))


def _jfif(
    sof: int, width: int, height: int, comps, qts, restart_interval: int,
    ac0=None,
) -> bytes:
    """A JFIF file's head from its component list: SOI, APP0, a DQT
    per table set (zigzag order), the SOF, a DC and an AC DHT per
    table set (``ac0`` replaces table set 0's AC (BITS, HUFFVAL)), and
    DRI when restarts are on. The scans and EOI follow it."""
    sof_body = bytes(x for cid, h, v, t in comps for x in (cid, (h << 4) | v, t))
    dht = b""
    for t in range(len(qts)):
        _, dc_bits, dc_vals, ac_bits, ac_vals = _TABLES[t]
        if t == 0 and ac0 is not None:
            ac_bits, ac_vals = ac0
        dht += _jpeg_seg(0xC4, bytes([t]) + bytes(dc_bits) + bytes(dc_vals))
        dht += _jpeg_seg(0xC4, bytes([0x10 | t]) + bytes(ac_bits) + bytes(ac_vals))
    return (
        b"\xff\xd8"
        + _jpeg_seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + b"".join(
            _jpeg_seg(0xDB, bytes([t]) + bytes(qt[i] for i in _ZIGZAG))
            for t, qt in enumerate(qts)
        )
        + _jpeg_seg(
            sof, struct.pack(">BHHB", 8, height, width, len(comps)) + sof_body
        )
        + dht
        + (
            _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
            if restart_interval
            else b""
        )
    )


def _baseline_scans(comps, coefs, restart_interval: int) -> list:
    """Entropy bytes of the one interleaved sequential scan of each of
    N images, from their :func:`_quantized` coefficients: each MCU
    holds h x v blocks per component in raster order (ITU T.81 A.2.3),
    and ``restart_interval`` resets every predictor (F.2.1.3.1)."""
    import numpy as np

    n, rows, cols = coefs[0].shape[:3]
    plan = _scan_plan(comps, rows // comps[0][2], cols // comps[0][1], restart_interval)
    blocks = np.concatenate([cf.reshape(n, -1, 64) for cf in coefs], axis=1)
    return _entropy_code(blocks[:, plan[0]], plan, True, True)


def _baseline_head(comps, qts, width: int, height: int, restart_interval: int) -> bytes:
    """A sequential (SOF0) file up to its scan's entropy bytes."""
    return _jfif(0xC0, width, height, comps, qts, restart_interval) + _sos(comps, 0, 63)


def _encode_baseline(pixels, width, height, quality, restart_interval, layout) -> bytes:
    """One image's sequential JPEG: the N = 1 case of the batch code."""
    px = _image(pixels, width, height, layout)
    comps, qts, coefs = _quantized(px, quality, layout)
    (scan,) = _baseline_scans(comps, coefs, restart_interval)
    head = _baseline_head(comps, qts, width, height, restart_interval)
    return head + scan + b"\xff\xd9"


def encode_jpeg_gray(
    pixels: bytes,
    width: int,
    height: int,
    quality: int = 90,
    restart_interval: int = 0,
) -> bytes:
    """Encode row-major 8-bit grayscale pixels as a baseline JFIF JPEG.

    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many MCUs (the error-resilience / parallel-decode feature real
    encoders use for large images; also what keeps the decoder's
    restart path honestly tested)."""
    return _encode_baseline(pixels, width, height, quality, restart_interval, "gray")


def encode_jpeg_rgb(
    pixels: bytes,
    width: int,
    height: int,
    quality: int = 90,
    restart_interval: int = 0,
    subsampling: str = "444",
) -> bytes:
    """Encode row-major interleaved 8-bit RGB as a baseline color JFIF
    JPEG, chroma at ``subsampling`` "444" or "420" (the libjpeg default
    for real-world color files).

    Pipeline: BT.601 full-range RGB -> YCbCr; Y against the Annex K
    luminance tables (DQT slot 0 / DHT class 0), Cb and Cr against
    the Annex K chrominance tables (slot 1 / class 1), each component
    with its own DC predictor; ``restart_interval`` resets all three
    predictors. With "444" every MCU is one 8x8 block per component;
    with "420" chroma is 2x2 box-averaged and each 16x16 MCU
    interleaves four Y blocks plus one Cb and one Cr block."""
    return _encode_baseline(
        pixels, width, height, quality, restart_interval, _subsampling(subsampling)
    )


@_lru_cache(maxsize=None)
def _prog_ac_table() -> tuple[tuple[int, ...], tuple[int, ...], dict]:
    """(BITS, HUFFVAL, symbol->code) for the fixed flat-8 progressive
    AC table this encoder writes into its DHT segment.

    Progressive AC scans need EOBn symbols (n >= 1) that the Annex K
    baseline AC table cannot hold — its code space has exactly one
    16-bit slot free (the reserved all-ones code), which is why real
    encoders build per-scan optimized tables. A fixed CANONICAL table
    with every needed symbol at length 8 sidesteps the optimizer:
    (run, size) for run 0..15 x size 1..14, EOB0..EOB5, and ZRL = 231
    symbols, Kraft 231/256 < 1, max code 230 != the reserved all-ones.
    Compression is a few percent worse than optimized tables —
    irrelevant for a correctness codec; any spec decoder reads it as
    an ordinary DHT."""
    syms = sorted(
        {(r << 4) | s for r in range(16) for s in range(1, 15)}
        | {n << 4 for n in range(6)}
        | {0xF0}
    )
    bits = [0] * 16
    bits[7] = len(syms)  # every symbol at code length 8
    return tuple(bits), tuple(syms), _canonical_codes(bits, syms)


def _write_eobrun(bw: _BitWriter, eobrun: int, ac_codes) -> None:
    """EOBn symbol plus its n extension bits for an EOB run (G.1.2.2)."""
    n = eobrun.bit_length() - 1
    bw.write(*ac_codes[n << 4])
    if n:
        bw.write(eobrun - (1 << n), n)


def encode_jpeg_gray_progressive(
    pixels: bytes,
    width: int,
    height: int,
    quality: int = 90,
    restart_interval: int = 0,
) -> bytes:
    """Encode 8-bit grayscale pixels as a PROGRESSIVE (SOF2) JFIF JPEG.

    Five-scan script exercising the full progressive feature set (ITU
    T.81 G.1.2): DC first scan at successive-approximation precision
    Al=1, DC refinement (Ah=1: one raw bit per block), two AC
    spectral-selection bands (1-5, 6-63) at Al=1 with EOB-run coding,
    and one AC refinement scan (Ah=1) emitting newly-significant
    coefficients plus correction bits for already-significant ones.
    Because every first scan drops exactly one bit (Al=1) and exactly
    one refinement scan restores it, the decoded coefficients are
    BIT-IDENTICAL to the sequential baseline encoding at the same
    quality — which is what the roundtrip query asserts
    (progressive-decoded pixels == baseline-decoded pixels).

    The quantized coefficients come from the same pipeline as
    :func:`encode_jpeg_gray`; the AC scans use the fixed flat-8 table
    of :func:`_prog_ac_table` (see there for why baseline tables
    cannot code EOBn).

    ``restart_interval`` emits a DRI segment and splits EVERY scan into
    ``restart_interval``-MCU intervals joined by RST0-7 markers; each
    interval restarts the entropy coder with fresh DC predictors and a
    flushed EOB run / correction-bit queue (ITU T.81 G.1.2.3 via
    F.2.1.3.1 — in a non-interleaved single-component scan the MCU is
    one block)."""
    px = _image(pixels, width, height, "gray")
    _, qts, (coefs,) = _quantized(px, quality, "gray")
    return _progressive_gray(coefs[0], width, height, qts, restart_interval)


def _progressive_gray(cf, width: int, height: int, qts, restart_interval: int) -> bytes:
    """The :func:`encode_jpeg_gray_progressive` file of one image's
    int64 (rows, cols, 64) zigzag coefficients."""
    comps = _LAYOUTS["gray"]
    rows, cols = cf.shape[:2]
    blocks = cf.reshape(rows * cols, 64).tolist()
    pbits, pvals, ac_codes = _prog_ac_table()
    # Arithmetic shift = the T.81 DC point transform.
    dc_first = _entropy_code(
        cf.reshape(1, rows * cols, 64)[..., :1] >> 1,
        _scan_plan(comps, rows, cols, restart_interval), True, False,
    )[0]

    def dc_refine(blks) -> bytes:
        bw = _BitWriter()
        for zz in blks:
            bw.write(zz[0] & 1, 1)
        return bw.flush()

    def ac_first(blks, ss: int, se: int, al: int) -> bytes:
        bw = _BitWriter()
        eobrun = 0
        for zz in blks:
            r = 0
            for k in range(ss, se + 1):
                v = zz[k]
                # AC point transform truncates toward zero (G.1.2.1),
                # unlike the DC arithmetic shift.
                t = (v >> al) if v >= 0 else -((-v) >> al)
                if t == 0:
                    r += 1
                    continue
                if eobrun:
                    _write_eobrun(bw, eobrun, ac_codes)
                    eobrun = 0
                while r > 15:
                    bw.write(*ac_codes[0xF0])
                    r -= 16
                size, mag = _mag_bits(t)
                if size > 14:
                    raise ValueError(
                        f"AC coefficient size {size} exceeds the flat "
                        "progressive table (max 14)"
                    )
                bw.write(*ac_codes[(r << 4) | size])
                bw.write(mag, size)
                r = 0
            if r:
                eobrun += 1
                if eobrun == 63:  # EOB5 ceiling: 32 + 31 extension
                    _write_eobrun(bw, eobrun, ac_codes)
                    eobrun = 0
        if eobrun:
            _write_eobrun(bw, eobrun, ac_codes)
        return bw.flush()

    def ac_refine(blks, ss: int, se: int, al: int) -> bytes:
        bw = _BitWriter()
        eobrun = 0
        pend: list[int] = []  # correction bits owed by the open EOB run

        def emit_eobrun() -> None:
            nonlocal eobrun, pend
            if eobrun:
                # The run's covered blocks' correction bits follow the
                # EOBn symbol, in block order (G.1.2.3).
                _write_eobrun(bw, eobrun, ac_codes)
                for b in pend:
                    bw.write(b, 1)
                eobrun, pend = 0, []

        for zz in blks:
            absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
            # Last newly-significant position: ZRLs are only emitted
            # while one remains ahead — trailing zeros and correction
            # bits past it fold into the EOB run instead (T.81
            # G.1.2.3; the decoder's EOB branch mirrors this).
            eobpos = ss - 1
            for idx in range(len(absv)):
                if absv[idx] == 1:
                    eobpos = ss + idx
            r = 0
            br_bits: list[int] = []  # bits owed since the last symbol
            for idx, k in enumerate(range(ss, se + 1)):
                t = absv[idx]
                if t == 0:
                    r += 1
                    continue
                # Drain pending ZRLs at EVERY nonzero coefficient (not
                # just newly-significant ones): the decoder reads
                # correction bits positionally while walking a
                # symbol's zero span, so each flushed bit must belong
                # to a position inside that span.
                while r > 15 and k <= eobpos:
                    emit_eobrun()
                    bw.write(*ac_codes[0xF0])
                    r -= 16
                    for b in br_bits:
                        bw.write(b, 1)
                    br_bits = []
                if t > 1:
                    # Already significant at this precision: one
                    # correction bit, emitted after the next symbol.
                    br_bits.append(t & 1)
                    continue
                # t == 1: newly significant coefficient.
                emit_eobrun()
                bw.write(*ac_codes[(r << 4) | 1])
                bw.write(1 if zz[k] > 0 else 0, 1)
                for b in br_bits:
                    bw.write(b, 1)
                br_bits = []
                r = 0
            if r > 0 or br_bits:
                eobrun += 1
                pend.extend(br_bits)
                if eobrun == 63:
                    emit_eobrun()
        emit_eobrun()
        return bw.flush()

    def split(fn) -> bytes:
        return _restart_split(blocks, restart_interval, fn)

    script = (
        (0, 0, 0x01, dc_first),
        (0, 0, 0x10, split(dc_refine)),
        (1, 5, 0x01, split(lambda b: ac_first(b, 1, 5, 1))),
        (6, 63, 0x01, split(lambda b: ac_first(b, 6, 63, 1))),
        (1, 63, 0x10, split(lambda b: ac_refine(b, 1, 63, 0))),
    )
    return (
        _jfif(0xC2, width, height, comps, qts, restart_interval, (pbits, pvals))
        + b"".join(_sos(comps, ss, se, ahal) + scan for ss, se, ahal, scan in script)
        + b"\xff\xd9"
    )


def encode_jpeg_rgb_progressive(
    pixels: bytes,
    width: int,
    height: int,
    quality: int = 90,
    restart_interval: int = 0,
) -> bytes:
    """Encode interleaved 8-bit RGB as a PROGRESSIVE (SOF2) color
    JPEG, 4:4:4, spectral selection only — the in-repo producer of the
    decoder's interleaved multi-component DC scan and 3-component
    progressive paths.

    Four-scan script with Ah=Al=0 everywhere (T.81 permits spectral
    selection without successive approximation): one INTERLEAVED DC
    scan over all three components (MCU = one block per component at
    4:4:4, per-component predictors), then one single-component AC
    scan (Ss=1, Se=63) per component, as the spec requires for
    progressive AC. Because Al=0 and every AC scan covers the full
    band, EOB runs never exceed one block and encode as the plain EOB
    symbol — so each AC scan codes exactly the AC half of a baseline
    block with the Annex K tables, and the decoded coefficients are
    bit-identical to the sequential 4:4:4 encoding at the same
    quality. ``restart_interval`` emits DRI + RST0-7 in every scan
    (all-predictor reset in the interleaved scan)."""
    import numpy as np

    comps, qts, coefs = _quantized(_image(pixels, width, height, "444"), quality, "444")
    _, rows, cols = coefs[0].shape[:3]
    blocks = [cf.reshape(1, rows * cols, 64) for cf in coefs]
    plan = _scan_plan(comps, rows, cols, restart_interval)
    scans = _sos(comps, 0, 0) + _entropy_code(
        np.concatenate(blocks, axis=1)[:, plan[0]], plan, True, False
    )[0]
    for c, blks in zip(comps, blocks):
        plan = _scan_plan((c,), rows, cols, restart_interval)
        scans += _sos([c], 1, 63) + _entropy_code(blks, plan, False, True)[0]
    head = _jfif(0xC2, width, height, comps, qts, restart_interval)
    return head + scans + b"\xff\xd9"


class _BitReader:
    """MSB-first bit reader over one scan's entropy-coded data. Each
    segment — the bytes up to the next marker — is 0xFF00-unstuffed
    once; bits are read in windows of it. ``pos`` is where the
    current segment ends in ``data``."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self._segment(pos)

    def _segment(self, pos: int) -> None:
        data = self.data
        end = data.find(b"\xff", pos)
        while end >= 0 and data[end + 1: end + 2] == b"\x00":
            end = data.find(b"\xff", end + 2)
        if end < 0:
            end = len(data)
        seg = data[pos:end].replace(b"\xff\x00", b"\xff")
        self._nbits = 8 * len(seg)
        self._seg = seg + b"\x00\x00\x00"  # room for the last window
        self._bit = 0
        self.pos = end

    def _short(self) -> None:
        if self.pos < len(self.data):
            raise ValueError("JPEG entropy data ended at marker early")
        raise ValueError("JPEG entropy data truncated")

    def read_bit(self) -> int:
        b = self._bit
        if b >= self._nbits:
            self._short()
        self._bit = b + 1
        return (self._seg[b >> 3] >> (7 - (b & 7))) & 1

    def read_bits(self, n: int) -> int:
        b = self._bit
        if b + n > self._nbits:
            self._short()
        self._bit = b + n
        nbytes = ((b & 7) + n + 7) >> 3
        w = int.from_bytes(self._seg[b >> 3: (b >> 3) + nbytes], "big")
        return (w >> (8 * nbytes - (b & 7) - n)) & ((1 << n) - 1)

    def receive(self, n: int) -> int:
        """``n`` bits read as a signed magnitude of size ``n`` (T.81
        F.2.2.1 EXTEND); 0 for ``n`` = 0."""
        v = self.read_bits(n)
        return v - (1 << n) + 1 if n and v < (1 << (n - 1)) else v

    def decode(self, table: tuple[int, ...]) -> int:
        """The next Huffman symbol under a :func:`_huff_lookup` table."""
        b = self._bit
        w = int.from_bytes(self._seg[b >> 3: (b >> 3) + 3], "big")
        e = table[(w >> (8 - (b & 7))) & 0xFFFF]
        n = e & 31
        if not n or b + n > self._nbits:
            # Sixteen real bits and no code: bad data; fewer: the code
            # would need bits past the segment.
            if self._nbits - b >= 16:
                raise ValueError("invalid JPEG Huffman code")
            self._short()
        self._bit = b + n
        return e >> 5

    def align_and_expect_rst(self, n: int) -> None:
        """Skip the current byte's padding and any whole padding bytes
        (0xFF, stuffed), then consume restart marker RSTn (mod 8) and
        start the next segment after it."""
        data, end = self.data, self.pos
        rest = self._seg[(self._bit + 7) >> 3: self._nbits >> 3]
        if rest.strip(b"\xff") or end + 1 >= len(data):
            raise ValueError("expected JPEG restart marker")
        if data[end + 1] != 0xD0 + (n % 8):
            raise ValueError(f"expected RST{n % 8}, got marker {data[end + 1]:#x}")
        self._segment(end + 2)


class _Frame:
    """What a JPEG's marker segments define, filled in as they parse:
    quant tables, Huffman tables keyed (class, id), the restart
    interval, and from the SOF the image size, components
    ``(cid, h, v, tq)``, MCU grid, each component's block grid in
    whole MCUs (``grid``) and its own extent within it (``geom``; a
    non-interleaved scan walks it), and its zigzag coefficients: a
    flat list of 64 per block, row-major over ``grid``, while the
    scans fill it, then an int64 (rows, cols, 64) array."""

    def __init__(self) -> None:
        self.qts: dict[int, list[int]] = {}
        self.huff: dict[tuple[int, int], tuple[int, ...]] = {}
        self.restart_interval = 0
        self.width = self.height = None
        self.progressive = False
        self.comps: list[tuple[int, int, int, int]] = []

    def read_sof(self, payload: bytes, progressive: bool) -> None:
        precision, self.height, self.width, nf = struct.unpack(
            ">BHHB", payload[:6]
        )
        if precision != 8:
            raise NotImplementedError("only 8-bit JPEG supported")
        if nf not in (1, 3):
            raise NotImplementedError(
                f"{nf}-component JPEG not supported (1 gray / 3 color)"
            )
        self.progressive = progressive
        self.comps = []
        for ci in range(nf):
            cid, sampling, tq = payload[6 + 3 * ci: 9 + 3 * ci]
            hi, vi = sampling >> 4, sampling & 0xF
            if not (1 <= hi <= 2 and 1 <= vi <= 2):
                raise NotImplementedError(
                    f"sampling factor {hi}x{vi} not supported "
                    "(h, v must be 1 or 2)"
                )
            self.comps.append((cid, hi, vi, tq))
        self.hmax = max(h for _, h, _, _ in self.comps)
        self.vmax = max(v for _, _, v, _ in self.comps)
        self.mcus_x = _cdiv(self.width, 8 * self.hmax)
        self.mcus_y = _cdiv(self.height, 8 * self.vmax)
        self.grid = [
            (self.mcus_y * vi, self.mcus_x * hi) for _, hi, vi, _ in self.comps
        ]
        self.coefs = [[0] * (64 * r * c) for r, c in self.grid]
        # Non-interleaved scans cover only the component's own extent:
        # ceil(size * factor / max factor) samples, in whole blocks.
        self.geom = [
            (_cdiv(_cdiv(self.height * vi, self.vmax), 8),
             _cdiv(_cdiv(self.width * hi, self.hmax), 8))
            for _, hi, vi, _ in self.comps
        ]


def _read_segments(data: bytes, pos: int, fr: _Frame):
    """Parse marker segments from ``pos`` into ``fr`` up to the next SOS
    or EOI -> ``(marker, payload, position after the segment)``;
    ``marker`` is None when the data ends first. Any number of 0xFF
    fill bytes may precede a marker (T.81 B.1.1.2); the standalone
    markers TEM, RSTn and SOI carry no length field (B.1.1.3).
    Arithmetic, lossless and hierarchical frames raise
    NotImplementedError by name."""
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        while data[pos + 1] == 0xFF:
            pos += 1
            if pos + 2 > len(data):
                raise ValueError("truncated JPEG segment")
        marker = data[pos + 1]
        if marker == 0xD9:
            return marker, b"", pos + 2
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            pos += 2
            continue
        if marker in (0xC6, 0xCA, 0xCE):
            raise NotImplementedError(
                "differential/arithmetic progressive JPEG not supported"
            )
        if marker in (0xC9, 0xCB, 0xCC, 0xCD):
            raise NotImplementedError("arithmetic-coded JPEG not supported")
        if marker in (0xC3, 0xC5, 0xC7, 0xCF):
            raise NotImplementedError("lossless/differential JPEG not supported")
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG segment")
        (length,) = struct.unpack(">H", data[pos + 2: pos + 4])
        if pos + 2 + length > len(data):
            raise ValueError("truncated JPEG segment")
        payload = data[pos + 4: pos + 2 + length]
        pos += 2 + length
        if marker == 0xDA:
            return marker, payload, pos
        p = 0
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            while p < len(payload):
                if payload[p] >> 4:
                    raise NotImplementedError("16-bit DQT not supported")
                fr.qts[payload[p] & 0xF] = list(payload[p + 1: p + 65])
                p += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            while p < len(payload):
                end = p + 17 + sum(payload[p + 1: p + 17])
                fr.huff[(payload[p] >> 4, payload[p] & 0xF)] = _huff_lookup(
                    payload[p + 1: p + 17], payload[p + 17: end]
                )
                p = end
        elif marker in (0xC0, 0xC1, 0xC2):
            fr.read_sof(payload, progressive=marker == 0xC2)
        elif marker == 0xDD:
            (fr.restart_interval,) = struct.unpack(">H", payload[:2])
    return None, b"", pos


def _next_marker_pos(data: bytes, pos: int) -> int:
    """First byte-aligned non-stuffed, non-restart marker at/after
    ``pos`` (the scan's entropy data ends here)."""
    p = pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00:
            if 0xD0 <= data[p + 1] <= 0xD7:
                p += 2  # stray trailing restart — skip defensively
                continue
            return p
        # Fill bytes (FF FF) resolve at the marker loop; advance past
        # everything else (entropy padding).
        p += 1
    raise ValueError("JPEG scan not terminated by a marker")


def _decode_scan(br: _BitReader, fr: _Frame, members, ss, se, ah, al) -> None:
    """Entropy-decode ONE scan into ``fr.coefs``: ITU T.81 F.2.2
    sequential, or G.2 progressive with refinement per G.1.2.3. A
    sequential scan is the Ss=0, Se=63, Ah=Al=0 case — each block
    codes its DC and then its AC band. ``members`` are the scan's
    ``(component index, DC table id, AC table id)``; a block is the
    64 entries of its component's flat list from offset ``o``."""
    eobrun = rst = 0
    preds = [0] * len(members)
    lo = max(ss, 1)  # first AC position of the band
    decode, receive, read_bit = br.decode, br.receive, br.read_bit

    def need(tc: int, th: int):
        tab = fr.huff.get((tc, th))
        if tab is None:
            raise ValueError("JPEG scan references missing DHT table")
        return tab

    def dc_unit(buf, o: int, mi: int) -> None:
        if ah == 0:  # first DC scan at this precision
            preds[mi] += receive(decode(dc_tabs[mi]))
            buf[o] = preds[mi] << al
        elif read_bit():  # DC refinement: one raw bit
            buf[o] |= 1 << al

    def ac_first_unit(buf, o: int, ac_tab) -> None:
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = lo
        while k <= se:
            sym = decode(ac_tab)
            r, s = sym >> 4, sym & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                # EOB / EOBn: this block and 2^r - 1 + bits more end.
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read_bits(r)
                break
            k += r
            if k > se:
                raise ValueError("JPEG AC coefficient index overflow")
            buf[o + k] = receive(s) << al
            k += 1

    def ac_refine_unit(buf, o: int, ac_tab) -> None:
        nonlocal eobrun
        p1, m1 = 1 << al, -1 << al

        def correct(k: int) -> None:
            v = buf[o + k]
            if read_bit() and (v & p1) == 0:
                buf[o + k] = v + (p1 if v >= 0 else m1)

        k = lo
        if eobrun == 0:
            while k <= se:
                sym = decode(ac_tab)
                r, s = sym >> 4, sym & 0xF
                val = 0
                if s == 0:
                    if r < 15:  # EOBn — rest of this block joins the run
                        eobrun = 1 << r
                        if r:
                            eobrun += br.read_bits(r)
                        break
                    # r == 15: ZRL — skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError(
                            "JPEG AC refinement symbol must have size 1"
                        )
                    val = p1 if read_bit() else m1
                while k <= se:
                    if buf[o + k] != 0:
                        correct(k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    buf[o + k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                if buf[o + k] != 0:
                    correct(k)
                k += 1
            eobrun -= 1

    def restart(n: int) -> None:
        nonlocal eobrun, rst
        if fr.restart_interval and n and n % fr.restart_interval == 0:
            br.align_and_expect_rst(rst)
            rst += 1
            preds[:] = [0] * len(preds)  # ALL predictors reset (F.2.1.3.1)
            eobrun = 0

    def unit(buf, o: int, mi: int) -> None:
        if ss == 0:
            dc_unit(buf, o, mi)
        if se:
            ac_unit(buf, o, ac_tabs[mi])

    if fr.progressive and ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se = 0")
    if se > 63:
        # A block is 64 entries of a flat list: a band past 63 would
        # run into the next block.
        raise ValueError(f"JPEG scan Se = {se} is past coefficient 63")
    if len(members) > 1:
        # Interleaved scan. T.81 G.2 forbids interleaved progressive AC,
        # and this decoder requires it to cover every SOF component
        # (the standard scripts do; a subset interleave would need
        # per-scan MCU geometry).
        if fr.progressive and ss != 0:
            raise ValueError("interleaved progressive AC scan is invalid")
        if len(members) != len(fr.comps):
            raise NotImplementedError(
                "subset multi-component scan not supported"
            )
    dc_tabs = [need(0, d) if ss == 0 and ah == 0 else None for _, d, _ in members]
    ac_tabs = [need(1, a) if se else None for _, _, a in members]
    ac_unit = ac_first_unit if ah == 0 else ac_refine_unit
    if len(members) == 1:
        # Non-interleaved: one block per MCU over the component's grid.
        cx = members[0][0]
        rows, cols = fr.geom[cx]
        buf, stride = fr.coefs[cx], fr.grid[cx][1]
        for n in range(rows * cols):
            restart(n)
            unit(buf, 64 * (n // cols * stride + n % cols), 0)
        return
    # Interleaved MCU: h_i x v_i blocks per component in raster order
    # (T.81 A.2.3), components in SOF order; ``blocks`` holds each
    # one's (list, offset in MCU (0, 0), member, MCU row step, MCU
    # column step).
    blocks = []
    for mi, (cx, _, _) in enumerate(members):
        _, hi, vi, _ = fr.comps[cx]
        stride = fr.grid[cx][1]
        blocks += [
            (fr.coefs[cx], 64 * (r * stride + c), mi, 64 * vi * stride, 64 * hi)
            for r in range(vi)
            for c in range(hi)
        ]
    for n in range(fr.mcus_y * fr.mcus_x):
        restart(n)
        my, mx = divmod(n, fr.mcus_x)
        for buf, o, mi, dy, dx in blocks:
            unit(buf, o + my * dy + mx * dx, mi)


def _idct_blocks(cf, qt):
    """Dequantize (``qt`` in zigzag order, as DQT carries it) and
    inverse-transform int64 (..., rows, cols, 64) zigzag coefficients
    into (..., rows*8, cols*8) float planes — the inverse of
    :func:`_zigzag_coefs`, and like it one stacked matmul that runs
    the same 8x8 product per block as a per-block loop."""
    import numpy as np

    qmat = np.array(qt, dtype=np.float64)[np.argsort(_ZIGZAG)].reshape(8, 8)
    c = _dct_mat()
    *lead, rows, cols, _ = cf.shape
    blocks = np.zeros(cf.shape, dtype=np.float64)
    blocks[..., _ZIGZAG] = cf
    pix = c.T @ (blocks.reshape(*lead, rows, cols, 8, 8) * qmat) @ c + 128.0
    return pix.swapaxes(-3, -2).reshape(*lead, rows * 8, cols * 8)


def _decode_coefs(data: bytes) -> _Frame:
    """The JPEG entropy-decode core -> the :class:`_Frame` its marker
    segments define, with every component's coefficients filled.

    Parses the marker segments generically and entropy-decodes every
    scan into per-component coefficient arrays: one interleaved scan
    for sequential (SOF0/SOF1) files, any scan script for progressive
    (SOF2) files — spectral selection and successive approximation
    for DC and AC, EOB runs, refinement correction bits, table
    redefinition between scans, restart intervals. 1 (gray) or 3
    (YCbCr) components with sampling factors h, v in {1, 2} (4:4:4,
    4:2:2, 4:4:0 and 4:2:0 all decode), each with its own quant table,
    Huffman pair and DC predictor. Shapes outside this contract raise
    ``NotImplementedError`` naming the missing piece."""
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    fr = _Frame()
    pos, scans = 2, 0
    while True:
        marker, payload, pos = _read_segments(data, pos, fr)
        if marker is None:
            break
        if marker == 0xD9:
            if not scans:
                raise ValueError("JPEG has no scan data")
            break
        if not fr.comps:
            raise ValueError("JPEG SOS before SOF")
        ns = payload[0]
        cid_to_ix = {cid: i for i, (cid, _, _, _) in enumerate(fr.comps)}
        members = []
        for si in range(ns):
            cid, ids = payload[1 + 2 * si], payload[2 + 2 * si]
            if cid not in cid_to_ix:
                raise ValueError(f"SOS references unknown component {cid}")
            members.append((cid_to_ix[cid], ids >> 4, ids & 0xF))
        ss, se, ahal = 0, 63, 0
        if fr.progressive:
            ss, se, ahal = payload[1 + 2 * ns: 4 + 2 * ns]
        elif ns != len(fr.comps):
            raise NotImplementedError(
                "partial/multi-scan JPEG not supported (one "
                "interleaved scan covering every SOF component)"
            )
        br = _BitReader(data, pos)
        _decode_scan(br, fr, members, ss, se, ahal >> 4, ahal & 0xF)
        scans += 1
        if not fr.progressive:
            break
        pos = _next_marker_pos(data, br.pos)
    if fr.width is None or not scans:
        raise ValueError("JPEG missing SOF/SOS")
    fr.coefs = [
        np.array(cf, dtype=np.int64).reshape(r, c, 64)
        for cf, (r, c) in zip(fr.coefs, fr.grid)
    ]
    return fr


def _frame_planes(fr: _Frame, coefs) -> list:
    """Float planes of images that share ``fr``'s components and quant
    tables, from their per-component int64 (N, rows, cols, 64)
    coefficient stacks -> per component (N, H, W), every plane at the
    full MCU grid of the stack. Every block dequantizes and
    inverse-transforms the same way, so a fully-refined progressive
    stream decodes BIT-IDENTICALLY to its sequential counterpart.
    Subsampled planes are upsampled back by pixel replication
    (deterministic; fancy upsampling differs across real decoders,
    and the roundtrip oracle is an error bound). Cropping to the image
    size is the caller's; clipping and color conversion are
    :func:`_u8` and :func:`_rgb`."""
    import numpy as np

    planes = []
    for (_, hi, vi, tq), cf in zip(fr.comps, coefs):
        if tq not in fr.qts:
            raise ValueError("JPEG scan references missing DQT table")
        plane = _idct_blocks(cf, fr.qts[tq])
        if hi != fr.hmax:
            plane = np.repeat(plane, fr.hmax // hi, axis=-1)
        if vi != fr.vmax:
            plane = np.repeat(plane, fr.vmax // vi, axis=-2)
        planes.append(plane)
    return planes


def _decode_jpeg_planes(data: bytes):
    """One JPEG -> (width, height, float planes): :func:`_decode_coefs`
    then the N = 1 case of :func:`_frame_planes`, cropped."""
    fr = _decode_coefs(data)
    planes = _frame_planes(fr, [cf[None] for cf in fr.coefs])
    return fr.width, fr.height, [p[0, : fr.height, : fr.width] for p in planes]


def _u8(plane):
    """Decoded float samples rounded and clipped to uint8."""
    import numpy as np

    return np.clip(np.round(plane), 0, 255).astype(np.uint8)


def _rgb(planes):
    """Interleaved RGB uint8 (..., h, w, 3) from decoded planes: a gray
    plane is replicated to R=G=B (how every viewer renders it); YCbCr
    (BT.601 full-range) converts back with R = Y + 1.402 Cr',
    G = Y - 0.344136 Cb' - 0.714136 Cr', B = Y + 1.772 Cb'
    (Cb' = Cb - 128, Cr' = Cr - 128)."""
    import numpy as np

    if len(planes) == 1:
        return np.repeat(_u8(planes[0])[..., None], 3, axis=-1)
    y, cb, cr = planes
    cb = cb - 128.0
    cr = cr - 128.0
    return _u8(
        np.stack(
            [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
            axis=-1,
        )
    )


def decode_jpeg_gray(data: bytes) -> tuple[int, int, bytes]:
    """Decode a grayscale JPEG -> (width, height, pixels).

    Baseline and progressive streams decode, with or without restart
    intervals and at sampling factors 1 or 2 (shared core
    :func:`_decode_jpeg_planes`); arithmetic, lossless and
    hierarchical streams raise ``NotImplementedError`` naming the
    missing piece. Color files raise ``NotImplementedError`` pointing
    at :func:`decode_jpeg_rgb`."""
    width, height, planes = _decode_jpeg_planes(data)
    if len(planes) != 1:
        raise NotImplementedError(
            "multi-component (color) JPEG: use decode_jpeg_rgb"
        )
    return width, height, _u8(planes[0]).tobytes()


def decode_jpeg_rgb(data: bytes) -> tuple[int, int, bytes]:
    """Decode a color or grayscale JPEG -> (width, height, rgb).

    ``rgb`` is row-major interleaved R,G,B bytes. Baseline and
    progressive streams decode, with chroma at 4:4:4, 4:2:2, 4:4:0 or
    4:2:0; see :func:`_rgb` for the color conversion and the gray
    replication."""
    width, height, planes = _decode_jpeg_planes(data)
    return width, height, _rgb(planes).tobytes()


# --------------------------------------------------------------------------
# Real WAV codec (PCM16 mono), stdlib-only.
# --------------------------------------------------------------------------
def encode_wav_pcm16(samples: list[int], rate: int = 16000) -> bytes:
    body = struct.pack(f"<{len(samples)}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(body), b"WAVE", b"fmt ", 16,
        1, 1, rate, rate * 2, 2, 16, b"data", len(body),
    )
    return hdr + body


def decode_wav_pcm16(data: bytes) -> tuple[int, list[int]]:
    """Decode PCM16 mono WAV -> (sample_rate, samples)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(data):
        tag, length = data[pos: pos + 4], struct.unpack("<I", data[pos + 4: pos + 8])[0]
        chunk = data[pos + 8: pos + 8 + length]
        if tag == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", chunk[:8])
            bits = struct.unpack("<H", chunk[14:16])[0]
            if (fmt, channels, bits) != (1, 1, 16):
                raise ValueError("only PCM16 mono supported")
        elif tag == b"data":
            samples = list(struct.unpack(f"<{length // 2}h", chunk[: length & ~1]))
        pos += 8 + length + (length & 1)
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return rate, samples


# --------------------------------------------------------------------------
# Real AVI container (RIFF) with an MJPEG video stream, stdlib-only.
#
# MJPEG-in-AVI is the simplest real video format there is — every
# frame is an independent baseline JPEG in a '00dc' chunk — which
# makes it the honest first rung of the video ladder now that the
# JPEG codec above is complete: container parse, stream-header
# validation, demux, and per-frame decode are all REAL; only
# inter-frame codecs (H.264 etc.) remain NotImplementedError.
# Layout written and verified here (all little-endian):
#   RIFF <size> 'AVI '
#     LIST 'hdrl'  avih(56) + LIST 'strl' [ strh(56) + strf(40) ]
#     LIST 'movi'  '00dc' <jpeg> ...   (chunks padded to even)
#     'idx1'       16-byte entries (ckid, flags, offset, length)
# --------------------------------------------------------------------------
def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def _riff_list(form: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", form + body)


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Write an AVI container holding one MJPEG video stream.

    ``frames`` are complete baseline-JPEG byte strings (one per video
    frame). The index ('idx1') is emitted with offsets relative to the
    'movi' fourcc, the convention every AVI-1.0 reader expects."""
    for i, f in enumerate(frames):
        if f[:2] != b"\xff\xd8":
            raise ValueError(f"frame {i} is not a JPEG stream")
    max_bytes = max((len(f) for f in frames), default=0)
    avih = _riff_chunk(
        b"avih",
        struct.pack(
            "<14I",
            1_000_000 // fps,      # dwMicroSecPerFrame
            max_bytes * fps,       # dwMaxBytesPerSec
            0,                     # dwPaddingGranularity
            0x10,                  # dwFlags = AVIF_HASINDEX
            len(frames),           # dwTotalFrames
            0,                     # dwInitialFrames
            1,                     # dwStreams
            max_bytes,             # dwSuggestedBufferSize
            width, height,
            0, 0, 0, 0,            # dwReserved[4]
        ),
    )
    strh = _riff_chunk(
        b"strh",
        struct.pack(
            "<4s4sIHH8I4h",
            b"vids", b"MJPG",
            0, 0, 0,               # dwFlags, wPriority, wLanguage
            0,                     # dwInitialFrames
            1, fps,                # dwScale / dwRate = frame rate
            0, len(frames),        # dwStart, dwLength (in frames)
            max_bytes,             # dwSuggestedBufferSize
            10_000,                # dwQuality
            0,                     # dwSampleSize (0 = variable)
            0, 0, height, width,   # rcFrame (top, left, bottom, right)
        ),
    )
    strf = _riff_chunk(
        b"strf",
        struct.pack(
            "<IiiHH4sIiiII",
            40, width, height, 1, 24, b"MJPG",
            width * height * 3, 0, 0, 0, 0,
        ),
    )
    hdrl = _riff_list(b"hdrl", avih + _riff_list(b"strl", strh + strf))
    movi_body = b""
    idx_entries = []
    for f in frames:
        # Offset convention: from the 'movi' fourcc to the chunk's
        # ckid; the first chunk therefore sits at offset 4.
        idx_entries.append((4 + len(movi_body), len(f)))
        movi_body += _riff_chunk(b"00dc", f)
    movi = _riff_list(b"movi", movi_body)
    idx1 = _riff_chunk(
        b"idx1",
        b"".join(
            struct.pack("<4sIII", b"00dc", 0x10, off, ln)
            for off, ln in idx_entries
        ),
    )
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg(data: bytes) -> tuple[int, int, list[bytes]]:
    """Parse an AVI container and demux its MJPEG frames.

    Returns ``(width, height, [jpeg_bytes, ...])``. Validates the
    stream headers (fccType 'vids', handler and biCompression 'MJPG'),
    cross-checks the demuxed frame count against avih dwTotalFrames
    and the idx1 entry count, and raises ``NotImplementedError``
    naming any non-MJPEG codec — the honest boundary: parsing is
    format-complete, decoding exists only for codecs implemented
    above."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")

    width = height = total = None
    handler = compression = None
    frames: list[bytes] = []
    idx_count = None

    def _sub_chunks(body: bytes):
        pos = 0
        while pos + 8 <= len(body):
            tag = body[pos : pos + 4]
            ln = struct.unpack("<I", body[pos + 4 : pos + 8])[0]
            yield tag, body[pos + 8 : pos + 8 + ln]
            pos += 8 + ln + (ln & 1)

    for tag, body in _sub_chunks(data[12 : 8 + struct.unpack("<I", data[4:8])[0]]):
        if tag == b"LIST":
            form, rest = body[:4], body[4:]
            if form == b"hdrl":
                for t2, b2 in _sub_chunks(rest):
                    if t2 == b"avih":
                        vals = struct.unpack("<14I", b2[:56])
                        total, width, height = vals[4], vals[8], vals[9]
                    elif t2 == b"LIST" and b2[:4] == b"strl":
                        for t3, b3 in _sub_chunks(b2[4:]):
                            if t3 == b"strh":
                                fcc_type, fcc_handler = b3[:4], b3[4:8]
                                if fcc_type != b"vids":
                                    raise NotImplementedError(
                                        f"AVI stream type {fcc_type!r} not "
                                        "supported (only 'vids')"
                                    )
                                handler = fcc_handler
                            elif t3 == b"strf":
                                compression = b3[16:20]
            elif form == b"movi":
                for t2, b2 in _sub_chunks(rest):
                    if t2[2:4] == b"dc":
                        frames.append(b2)
        elif tag == b"idx1":
            idx_count = len(body) // 16
    if width is None or height is None:
        raise ValueError("AVI missing avih header")
    for name, fourcc in (("handler", handler), ("biCompression", compression)):
        if fourcc is None:
            raise ValueError(f"AVI missing stream {name}")
        if fourcc not in (b"MJPG", b"mjpg"):
            raise NotImplementedError(
                f"AVI codec {fourcc!r} not supported (only MJPG)"
            )
    if total is not None and total != len(frames):
        raise ValueError(
            f"AVI frame count mismatch: avih says {total}, movi has {len(frames)}"
        )
    if idx_count is not None and idx_count != len(frames):
        raise ValueError(
            f"AVI idx1 mismatch: {idx_count} entries, {len(frames)} frames"
        )
    for i, f in enumerate(frames):
        if f[:2] != b"\xff\xd8":
            raise ValueError(f"AVI frame {i} is not a JPEG stream")
    return int(width), int(height), frames


def make_payload(media_id: int, kind: str, width: int, height: int, n_frames: int = 1) -> bytes:
    """Deterministic fake payload: parseable header + content bytes."""
    body = b"".join(
        hashlib.sha256(f"{media_id}:{i}".encode()).digest()
        for i in range(max(1, n_frames))
    )
    return struct.pack(_HDR_FMT, _MAGIC, _KINDS[kind], width, height) + body


def synthesize_media(spark, n: int = 100) -> DataFrame:
    """Build a deterministic media corpus (no external codecs needed)."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        w, h = 16 + (i % 8) * 16, 16 + (i % 5) * 16
        frames = 1 if kind != "video" else 2 + i % 6
        rows.append(
            (
                i,
                kind,
                make_payload(i, kind, w, h, frames),
                (w, h, frames, "fake/v1"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# Stages: one per-row function each, run by _map_rows; the JPEG roundtrip
# family runs one batch function, _roundtrip_batch, via _map_batches.
# --------------------------------------------------------------------------
def _decode_image_row(mid, payload) -> list[tuple]:
    b = bytes(payload)
    # ALWAYS the deterministic header-parser stub, never PIL: a real
    # deployment would swap this body for PIL.Image.open, but switching
    # decoders per environment would make query values
    # machine-dependent.
    if b[:4] == _MAGIC:
        _, _, w, h = struct.unpack(_HDR_FMT, b[:_HDR_SIZE])
        body = b[_HDR_SIZE:]
    else:  # headerless payload: treat all bytes as body
        w = h = 0
        body = b
    return [(mid, w, h, len(b), sum(body), zlib.crc32(body))]


def decode_image(df: DataFrame) -> DataFrame:
    """Decode stage over ``mapInPandas`` (Arrow-batched).

    Real codec path would open ``payload`` with PIL; the container has
    no PIL, so the STUB parses the header (width/height) and computes
    byte statistics — deterministic, schema-identical to the real
    path, and enough to test the plumbing end-to-end.
    """
    return _map_rows(df, DECODED_SCHEMA, _decode_image_row, "media_id", "payload")


def extract_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """Feature extraction stub: payload bytes -> deterministic
    unit-normalized float vector (sha256-expanded). The real path
    would run a vision/audio encoder per Arrow batch (the batch loop
    is exactly where a GPU model call goes)."""

    def row(mid, payload) -> list[tuple]:
        import numpy as np

        raw = b""
        seed = hashlib.sha256(bytes(payload))
        while len(raw) < 4 * dim:
            seed.update(b"x")
            raw += seed.digest()
        v = np.frombuffer(raw[: 4 * dim], dtype=np.uint32).astype(np.float64)
        v = (v / 2**32) * 2.0 - 1.0
        v /= np.linalg.norm(v) or 1.0
        return [(mid, v.astype(np.float32).tolist())]

    return _map_rows(df, FEATURES_SCHEMA, row, "media_id", "payload")


def frame_sample(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling for video payloads: one output row per sampled
    frame (1-to-many inside ``mapInPandas``). Frames are fixed-size
    32-byte slots in the fake container; the real path would seek with
    a demuxer. Rows multiply inside the task — no shuffle."""

    def row(mid, payload) -> list[tuple]:
        b = bytes(payload)
        body = b[_HDR_SIZE:] if b[:4] == _MAGIC else b
        frames = (
            (idx, body[idx * 32: (idx + 1) * 32])
            for idx in range(0, max(1, len(body) // 32), every_n)
        )
        return [(mid, idx, zlib.crc32(f), f.hex()) for idx, f in frames]

    return _map_rows(df, FRAMES_SCHEMA, row, "media_id", "payload")


def png_encode_pixels(df: DataFrame) -> DataFrame:
    """Encode stage: (media_id, width, height, pixels raw-gray bytes or
    int array) -> (media_id, payload PNG bytes), Arrow-batched. The
    write half of a multimodal ingest pipeline; rows never leave the
    task."""
    return _map_rows(
        df,
        _PAYLOAD_SCHEMA,
        lambda mid, w, h, px: [(mid, encode_png_gray(_raw_gray(px), int(w), int(h)))],
        "media_id", "width", "height", "pixels",
    )


def jpeg_encode_pixels(df: DataFrame, quality: int = 90) -> DataFrame:
    """Encode stage: (media_id, width, height, pixels raw-gray bytes or
    int array) -> (media_id, payload baseline-JPEG bytes),
    Arrow-batched — the lossy twin of :func:`png_encode_pixels`. Rows
    never leave their task."""

    def row(mid, w, h, px) -> list[tuple]:
        jpeg = encode_jpeg_gray(_raw_gray(px), int(w), int(h), quality=quality)
        return [(mid, jpeg)]

    return _map_rows(
        df, _PAYLOAD_SCHEMA, row, "media_id", "width", "height", "pixels"
    )


def _gradients(mids, w: int, h: int, layout: str):
    """Task-generated pixels of the gradient roundtrip queries for
    int64 ids ``mids`` -> uint8 (N, h, w, channels): gray
    ``20 + id%40 + 2x + 3y`` (multimodal_jpeg_roundtrip); RGB
    R = 20+id%40+2x+3y, G = 10+(id%40)//2+3x+2y, B = 40+id%20+x+4y
    (multimodal_jpeg_color_roundtrip). Generated with numpy in the
    codec task: a Catalyst ``transform(sequence(...))`` would evaluate
    per element, interpreted, and ship the whole pixel array across
    the Arrow boundary (values are integer-exact either way)."""
    import numpy as np

    m = mids[:, None, None]
    x = np.arange(w, dtype=np.int64)[None, None, :]
    y = np.arange(h, dtype=np.int64)[None, :, None]
    planes = [20 + m % 40 + 2 * x + 3 * y]
    if layout != "gray":
        planes += [10 + (m % 40) // 2 + 3 * x + 2 * y, 40 + m % 20 + x + 4 * y]
    planes = [np.broadcast_to(p, (len(mids), h, w)) for p in planes]
    return np.stack(planes, axis=-1).astype(np.uint8)


# Padded pixels per numpy stack of the batch stage: bounds a Python
# worker's transient memory (a float plane and its temporaries are
# 8 bytes a pixel each) at no measurable cost in speed.
_STACK_PIXELS = 1 << 14


def _stacks(parts: list, per: int) -> Iterator[list]:
    """Split ``parts`` — ``(w, h, row indexes, pixel stack)`` groups —
    into runs of at most ``per`` images, splitting a group if needed."""
    stack, room = [], per
    for w, h, idx, src in parts:
        at = 0
        while at < len(idx):
            k = min(room, len(idx) - at)
            stack.append((w, h, idx[at: at + k], src[at: at + k]))
            at, room = at + k, room - k
            if not room:
                yield stack
                stack, room = [], per
    if stack:
        yield stack


def _decoded_stack(files: list, layout: str):
    """Decoded uint8 pixels of N JPEG files of ``layout`` that share one
    MCU grid and quant tables, uncropped: (N, H, W) gray as
    :func:`decode_jpeg_gray` gives them, or (N, H, W, 3) RGB as
    :func:`decode_jpeg_rgb` does."""
    import numpy as np

    frames = [_decode_coefs(f) for f in files]
    coefs = [np.stack(cfs) for cfs in zip(*(fr.coefs for fr in frames))]
    planes = _frame_planes(frames[0], coefs)
    return _u8(planes[0]) if layout == "gray" else _rgb(planes)


def _roundtrip_batch(
    mids, widths, heights, layouts, quality: int, progressive: bool = False,
    pixels=None, restarts=None,
) -> tuple[list, list, list]:
    """Codec QA over one batch of rows -> ``(rows, files, decoded)`` in
    input order.

    Row i's image — raw bytes ``pixels[i]`` when given, else its
    :func:`_gradients` — is encoded as a baseline JPEG of layout
    ``layouts[i]`` ('gray', '444' or '420') at restart interval
    ``restarts[i]`` (default 0), decoded back, and reported as
    ``(mid, w, h, w*h, max abs pixel error)`` over all channels. With
    ``progressive`` (gray rows) each row also encodes the 5-scan SOF2
    script and reports ITS error, plus whether its decoded pixels are
    BYTE-IDENTICAL to the sequential decode (every first scan drops
    exactly the one bit its refinement scan restores, so the
    coefficient arrays must coincide; any divergence in EOB-run, ZRL,
    correction-bit, or spectral-band handling flips the boolean).

    Rows are grouped by (width, height, layout, restart interval): per
    group the pixels are made, edge-padded to whole MCUs and compared
    with their decode as one (N, h, w[, c]) stack, and a group's files
    share one header. Groups whose padded stacks have the same MCU
    grid are concatenated, up to :data:`_STACK_PIXELS` pixels a stack,
    for the steps in between — YCbCr, chroma averaging,
    FDCT/quantize, entropy coding, dequantize/IDCT, upsampling, color
    conversion — which then run once per stack; only the Huffman
    decode is per file. Each row
    still gets exactly the bytes and pixels of the one-image
    ``encode_jpeg_*`` / ``decode_jpeg_*`` calls (test-pinned):
    ``files[i]`` holds the row's JPEG files (baseline, then
    progressive) and ``decoded[i]`` their decoded pixel bytes."""
    import numpy as np

    n = len(mids)
    mids = [int(m) for m in mids]
    keys = zip(
        (int(w) for w in widths), (int(h) for h in heights),
        (str(lay) for lay in layouts),
        (0,) * n if restarts is None else (int(r) for r in restarts),
    )
    groups: dict[tuple, list[int]] = {}
    for i, key in enumerate(keys):
        groups.setdefault(key, []).append(i)
    grids: dict[tuple, list] = {}  # (layout, restart, MCU grid) -> groups
    for (w, h, layout, ri), idx in groups.items():
        nch = 1 if layout == "gray" else 3
        if pixels is None:
            _check_size(w * h * nch, w, h, nch)
            ids = np.array([mids[i] for i in idx], dtype=np.int64)
            src = _gradients(ids, w, h, layout)
        else:
            raw = [pixels[i] for i in idx]
            for r in raw:
                _check_size(len(r), w, h, nch)
            src = np.frombuffer(b"".join(raw), dtype=np.uint8)
            src = src.reshape(len(idx), h, w, nch)
        key = (layout, ri) + _mcus(w, h, layout)
        grids.setdefault(key, []).append((w, h, idx, src))
    rows, files, decoded = [None] * n, [None] * n, [None] * n
    for (layout, ri, my, mx), same_grid in grids.items():
        side = 8 * _LAYOUTS[layout][0][1]  # MCU side in pixels
        per = max(1, _STACK_PIXELS // (my * mx * side * side))
        for parts in _stacks(same_grid, per):
            stack = _roundtrip_stack(parts, layout, ri, quality, progressive)
            for i, tail, f, d in stack:
                rows[i], files[i], decoded[i] = (mids[i], *tail), f, d
    return rows, files, decoded


def _roundtrip_stack(
    parts: list, layout: str, ri: int, quality: int, progressive: bool
):
    """One numpy stack of :func:`_roundtrip_batch`: ``parts`` are
    ``(w, h, row indexes, uint8 pixels)`` groups on one MCU grid ->
    per image ``(row index, row after its media_id, files, decoded)``."""
    import numpy as np

    comps, qts, coefs = _quantized(
        np.concatenate([_padded(src, layout) for *_, src in parts]), quality, layout
    )
    heads = [(w, h, _baseline_head(comps, qts, w, h, ri)) for w, h, *_ in parts]
    each = [head for head, (*_, idx, _) in zip(heads, parts) for _ in idx]
    scans = _baseline_scans(comps, coefs, ri)
    passes = [[head + scan + b"\xff\xd9" for (*_, head), scan in zip(each, scans)]]
    if progressive:
        passes.append(
            [
                _progressive_gray(cf, w, h, qts, ri)
                for cf, (w, h, _) in zip(coefs[0], each)
            ]
        )
    pix = [_decoded_stack(p, layout) for p in passes]
    at = 0
    for w, h, idx, src in parts:
        got = [p[at: at + len(idx), :h, :w].reshape(len(idx), -1) for p in pix]
        err = np.abs(got[-1] - src.reshape(len(idx), -1).astype(np.int64)).max(axis=1)
        same = (got[-1] == got[0]).all(axis=1)
        for j, i in enumerate(idx):
            tail = (w, h, w * h, int(err[j]))
            tail += (bool(same[j]),) if progressive else ()
            files = tuple(p[at + j] for p in passes)
            yield i, tail, files, tuple(g[j].tobytes() for g in got)
        at += len(idx)


def _subsampling(sub) -> str:
    """A color layout name, checked: '444' or '420'."""
    if sub not in ("444", "420"):
        raise ValueError(f"subsampling must be '444' or '420', got {sub!r}")
    return sub


def _pixels_roundtrip(df: DataFrame, quality: int, progressive: bool) -> DataFrame:
    schema = JPEG_PROGRESSIVE_SCHEMA if progressive else JPEG_ROUNDTRIP_SCHEMA

    def batch(mids, widths, heights, pixels) -> list[tuple]:
        raw = [_raw_gray(px) for px in pixels]
        gray = ["gray"] * len(raw)
        return _roundtrip_batch(
            mids, widths, heights, gray, quality, progressive, raw
        )[0]

    return _map_batches(df, schema, batch, "media_id", "width", "height", "pixels")


def jpeg_roundtrip_error(df: DataFrame, quality: int = 90) -> DataFrame:
    """Codec-QA stage: encode each (media_id, width, height, pixels)
    row as baseline JPEG, decode it back, and emit the max absolute
    pixel error — the validation pass an ingest pipeline runs before
    trusting a lossy codec path at scale. Both codec halves run inside
    ONE mapInPandas task per batch (:func:`_roundtrip_batch`); payload
    bytes are born and die task-side (never shuffled)."""
    return _pixels_roundtrip(df, quality, False)


def jpeg_progressive_roundtrip_error(
    df: DataFrame, quality: int = 90
) -> DataFrame:
    """Progressive twin of :func:`jpeg_roundtrip_error`, with a
    strictly stronger check: each row encodes BOTH ways and also
    reports ``matches_sequential`` (see :func:`_roundtrip_batch`). All
    four codec passes run inside ONE mapInPandas task per batch —
    payloads never shuffle."""
    return _pixels_roundtrip(df, quality, True)


def jpeg_gradient_roundtrip(
    df: DataFrame, quality: int = 90, progressive: bool = False
) -> DataFrame:
    """Fused generate+roundtrip stage for the gradient corpus:
    (media_id, width, height) -> the :func:`jpeg_roundtrip_error`
    output (the :func:`jpeg_progressive_roundtrip_error` output when
    ``progressive``), with the gray gradient pixels generated IN the
    task (:func:`_gradients`): three small int columns cross the Arrow
    boundary instead of a per-pixel array."""
    schema = JPEG_PROGRESSIVE_SCHEMA if progressive else JPEG_ROUNDTRIP_SCHEMA

    def batch(mids, widths, heights) -> list[tuple]:
        gray = ["gray"] * len(mids)
        return _roundtrip_batch(mids, widths, heights, gray, quality, progressive)[0]

    return _map_batches(df, schema, batch, "media_id", "width", "height")


def jpeg_gradient_color_roundtrip(df: DataFrame, quality: int = 90) -> DataFrame:
    """Color twin of :func:`jpeg_gradient_roundtrip`: (media_id, width,
    height, subsampling) -> (media_id, width, height, n_pixels,
    max_abs_err), the RGB gradient (:func:`_gradients`) generated
    task-side and each row encoded as a baseline color JPEG at its own
    subsampling ('444' or '420' — different MCU interleave and chroma
    paths, so a mixed frame covers both in one pass); the error is
    over all three channels."""

    def batch(mids, widths, heights, subs) -> list[tuple]:
        layouts = [_subsampling(s) for s in subs]
        return _roundtrip_batch(mids, widths, heights, layouts, quality)[0]

    return _map_batches(
        df, JPEG_ROUNDTRIP_SCHEMA, batch, "media_id", "width", "height", "subsampling"
    )


def _decode_media_row(mid, payload) -> list[tuple]:
    b = bytes(payload)
    if b[:8] == _PNG_SIG:
        fmt, (w, h, vals) = "png", decode_png_gray(b)
    elif b[:2] == b"\xff\xd8":
        # One decode: gray files report their plane as "jpeg", color
        # files the interleaved RGB bytes under their own tag.
        w, h, planes = _decode_jpeg_planes(b)
        if len(planes) == 1:
            fmt, vals = "jpeg", _u8(planes[0]).tobytes()
        else:
            fmt, vals = "jpeg_rgb", _rgb(planes).tobytes()
    elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        # For audio the (width, height) slots carry (sample_rate, 0):
        # DECODED_MEDIA_SCHEMA is one shape for all kinds, so filter on
        # kind before interpreting the dimension columns.
        fmt, h, (w, vals) = "wav", 0, decode_wav_pcm16(b)
    elif b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        # Video: demux + decode EVERY frame's luma; stats run over the
        # concatenated decoded pixels.
        w, h, frames = decode_avi_mjpeg(b)
        fmt, vals = "avi_mjpeg", b"".join(decode_jpeg_gray(f)[2] for f in frames)
    elif b[:4] == _MAGIC:
        _, _, w, h = struct.unpack(_HDR_FMT, b[:_HDR_SIZE])
        fmt, vals = "sgmm", b[_HDR_SIZE:]
    else:
        raise ValueError(f"unknown media magic for id {mid}")
    # Degenerate-but-valid assets (0x0 PNG, zero-length WAV data chunk)
    # must yield a row, not a task-killing ValueError from min()/max().
    return [
        (mid, fmt, w, h, len(vals), sum(vals),
         min(vals) if vals else 0, max(vals) if vals else 0)
    ]


def decode_media(df: DataFrame) -> DataFrame:
    """Decode stage with REAL codecs, dispatching on payload magic:
    PNG -> pixel statistics (CRC-verified, inflated, un-filtered),
    JPEG -> pixel statistics (gray plane, or interleaved RGB for color
    files), WAV -> PCM16 sample statistics, AVI -> statistics over
    every decoded MJPEG frame, SGMM -> legacy fake-container header
    parse (byte statistics). Unknown magic raises — silent passthrough
    would hide corrupt inputs at scale."""
    return _map_rows(
        df, DECODED_MEDIA_SCHEMA, _decode_media_row, "media_id", "payload"
    )


def resize_image(df: DataFrame, width: int, height: int) -> DataFrame:
    """Real nearest-neighbor resize for PNG payloads:
    decode -> numpy integer-index resample -> re-encode. Returns
    (media_id, payload) with payload a valid PNG of the target size.
    Non-PNG payloads raise (resampling audio/video needs a different
    operator)."""

    def row(mid, payload) -> list[tuple]:
        import numpy as np

        b = bytes(payload)
        if b[:8] != _PNG_SIG:
            raise ValueError(f"resize_image: id {mid} is not a PNG")
        w, h, px = decode_png_gray(b)
        if w == 0 or h == 0:
            # A 0x0 source is decodable (decode_media emits stats for
            # it) but has no pixels to sample — the numpy index below
            # would die with an opaque IndexError mid-task.
            raise ValueError(
                f"resize_image: id {mid} is {w}x{h}; cannot "
                "resample an empty image"
            )
        img = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
        ys = (np.arange(height) * h) // height
        xs = (np.arange(width) * w) // width
        return [(mid, encode_png_gray(img[ys][:, xs].tobytes(), width, height))]

    return _map_rows(df, _PAYLOAD_SCHEMA, row, "media_id", "payload")


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter: treat documents.text's UTF-8 bytes as an opaque
    payload — lets the multimodal pipeline run against real testdata
    (and gives the decode stage a DuckDB oracle: byte stats over
    ASCII text are SQL-computable)."""
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def wav_encode_samples(df: DataFrame) -> DataFrame:
    """Encode stage: (media_id, samples int array) -> (media_id,
    payload WAV PCM16 bytes), Arrow-batched — the audio twin of
    png_encode_pixels. Rows never leave their task."""
    return _map_rows(
        df,
        _PAYLOAD_SCHEMA,
        lambda mid, samples: [(mid, encode_wav_pcm16([int(s) for s in samples]))],
        "media_id", "samples",
    )


def _resample_half_row(mid, payload) -> list[tuple]:
    rate, x = decode_wav_pcm16(bytes(payload))
    y = [(x[2 * i] + x[2 * i + 1]) // 2 for i in range(len(x) // 2)]
    return [(mid, encode_wav_pcm16(y, rate=rate // 2))]


def wav_resample_half(df: DataFrame) -> DataFrame:
    """Transform stage: decimate WAV PCM16 payloads 2:1 — decode,
    average non-overlapping sample pairs (y[i] = floor((x[2i] +
    x[2i+1]) / 2), the box low-pass that precedes naive decimation;
    a trailing odd sample is dropped), re-encode at half the rate.
    (media_id, payload) -> (media_id, payload), Arrow-batched, rows
    never leave their task — the shape of every sample-rate
    normalization pass an audio training pipeline runs before
    featurization. floor() (not int()'s truncation) so the DuckDB
    oracle's floor((a+b)/2.0) replays negative pairs identically."""
    return _map_rows(df, _PAYLOAD_SCHEMA, _resample_half_row, "media_id", "payload")


def _audio_energy_row(mid, payload) -> list[tuple]:
    rate, samples = decode_wav_pcm16(bytes(payload))
    return [(mid, rate, len(samples), sum(samples), sum(s * s for s in samples))]


def audio_energy(df: DataFrame) -> DataFrame:
    """Feature-extraction stage for audio: decode WAV PCM16 payloads
    and emit integer signal statistics, including total energy
    (sum of squared samples — exact in int64 for PCM16). The shape of
    every real audio featurizer (MFCC, spectrogram): decode in the
    task, emit a small typed row."""
    return _map_rows(
        df, AUDIO_ENERGY_SCHEMA, _audio_energy_row, "media_id", "payload"
    )


def _dhash_row(mid, payload) -> list[tuple]:
    b = bytes(payload)
    if b[:2] == b"\xff\xd8":
        # JPEG: hash the luma plane (plane 0 is gray or Y).
        w, h, planes = _decode_jpeg_planes(b)
        px = _u8(planes[0]).tobytes()
    else:
        w, h, px = decode_png_gray(b)
    if (w, h) != (9, 8):
        raise ValueError(f"image_dhash: id {mid} is {w}x{h}, expected 9x8")
    hi = lo = 0
    for r in range(8):
        for c in range(8):
            bit = int(px[r * 9 + c] < px[r * 9 + c + 1])
            if r < 4:
                hi |= bit << (r * 8 + c)
            else:
                lo |= bit << ((r - 4) * 8 + c)
    return [(mid, hi, lo)]


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference-hash over 9x8 image payloads:
    bit (r, c) = pixel[r][c] < pixel[r][c+1], packed row-major into
    two 32-bit halves (rows 0-3 -> dhash_hi, rows 4-7 -> dhash_lo) so
    no value touches the sign bit of a 64-bit long.

    Input rows are (media_id, payload) where payload is a 9x8
    grayscale PNG (normally the output of ``resize_image(df, 9, 8)``)
    or a 9x8 JPEG — grayscale OR color, whose LUMA plane is hashed
    directly (dHash is defined over luminance; the Y plane of the
    JPEG's own YCbCr is exactly that, no RGB detour). Other sizes
    raise. Near-duplicate images agree on most bits, identical
    gradients hash identically, so groupBy(dhash) is the image twin
    of text fingerprint dedup and hamming-band joins are the scale
    path (same banding as simhash: 16-bit chunks, pigeonhole).
    """
    return _map_rows(df, _DHASH_SCHEMA, _dhash_row, "media_id", "payload")


def _mjpeg_avi_row(doc_id) -> list[tuple]:
    mid = int(doc_id)
    w = 16 + (mid % 3) * 8
    h = 16 + (mid % 2) * 8
    frames = [
        encode_jpeg_gray(
            bytes([hashlib.sha256(f"{mid}:{idx}".encode()).digest()[0]]) * (w * h),
            w,
            h,
            quality=100,
        )
        for idx in range(2 + mid % 6)
    ]
    return [(mid, "video", encode_avi_mjpeg(frames, w, h))]


def documents_as_mjpeg_avi(df: DataFrame) -> DataFrame:
    """Deterministic REAL video corpus from documents: doc_id -> an
    AVI/MJPEG container (``encode_avi_mjpeg``) holding
    ``2 + doc_id % 6`` frames of ``(16 + id%3*8) x (16 + id%2*8)``
    grayscale baseline JPEG. Frame ``i`` is FLAT at gray level
    ``sha256(f"{id}:{i}")[0]`` encoded at quality 100 — flat blocks
    have only a DC coefficient and the q100 quant table is all ones,
    so the JPEG round-trips the level EXACTLY (unit-proven in
    tests/test_multimodal.py), which is what makes the downstream
    sampling stage fully value-checkable in SQL. Containers are born
    and consumed task-side (mapInPandas), never shuffled."""
    return _map_rows(df, _VIDEO_SCHEMA, _mjpeg_avi_row, "doc_id")


def _avi_frames_row(mid, payload, every_n: int) -> list[tuple]:
    _, _, frames = decode_avi_mjpeg(bytes(payload))
    rows = []
    for idx in range(0, len(frames), every_n):
        w, h, px = decode_jpeg_gray(frames[idx])
        rows.append((mid, idx, w, h, min(px) if px else 0, max(px) if px else 0))
    return rows


def avi_frame_sample(df: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling: parse each AVI container
    (``decode_avi_mjpeg`` — header validation, MJPEG demux), keep
    every ``every_n``-th frame, run the real baseline-JPEG decoder on
    each KEPT frame only (decode-after-filter: at scale the sampler
    must never pay for frames it drops), and emit per-frame decoded
    pixel extrema. 1-to-many row expansion happens inside the task —
    payload bytes never shuffle."""

    def row(mid, payload) -> list[tuple]:
        return _avi_frames_row(mid, payload, every_n)

    return _map_rows(df, AVI_FRAMES_SCHEMA, row, "media_id", "payload")


def mjpeg_framesample_fused(df: DataFrame, every_n: int = 2) -> DataFrame:
    """``avi_frame_sample(documents_as_mjpeg_avi(df))`` as ONE stage:
    (doc_id) -> the :func:`avi_frame_sample` output, composing the two
    stages' row functions. The two-stage pipeline chains two
    ``mapInPandas`` evaluations, so every container payload crosses
    the Arrow boundary twice (Python -> JVM -> Python); since the
    generator is query-local synthesis, fusing it is free (at 100 TB
    the payload column comes from parquet and the two-stage shape
    stands)."""

    def row(doc_id) -> list[tuple]:
        return [
            out
            for mid, _, avi in _mjpeg_avi_row(doc_id)
            for out in _avi_frames_row(mid, avi, every_n)
        ]

    return _map_rows(df, AVI_FRAMES_SCHEMA, row, "doc_id")
