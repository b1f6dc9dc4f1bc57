"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched kernels.

Binary PPM (P6), 8-bit truecolor PNG, baseline and progressive JPEG,
RIFF/WAVE PCM audio and YUV4MPEG2 mono video decode FOR REAL — pure
Python parsers (decode_ppm / decode_png / decode_jpeg / decode_wav /
decode_y4m), no codec libs, each oracled end-to-end by its multimodal_*
key. Every DataFrame kernel here is a per-row module function run through
``session.arrow_map``, so each decoder and encoder has one implementation.
Compressed-codec work beyond these (PIL/ffmpeg/torchaudio) is NOT in this
container; those paths stay stubbed behind ``NotImplementedError`` with a
deterministic fake used by tests.

Design for 100 TB: binary payloads never pass through Python row-at-a-time —
mapInPandas streams Arrow record batches; metadata-only operations (filtering
by mime/size, sampling frames by index) stay in JVM expressions and never
touch the payload bytes.
"""

from __future__ import annotations

import functools
import hashlib
import math
import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cassandra_data_migrator_spark.session import arrow_map

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("feat_dim", IntegerType()),
        StructField("feat_norm", StringType()),  # deterministic digest of the feature
    ]
)


def decode_ppm(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL image decode for binary PPM (P6) — pure Python, no codec libs.

    Parses the NetPBM P6 header (magic, whitespace/comment-tolerant width,
    height, maxval, exactly one whitespace byte, then raw interleaved RGB)
    and returns (width, height, maxval, pixel_bytes). Raises ValueError on
    a wrong magic, malformed header, maxval > 255 (2-byte samples not
    supported), or a payload whose pixel section is not exactly
    width*height*3 bytes — truncated or padded images must fail loudly,
    never produce silent garbage stats."""
    if not payload or not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6 magic missing)")
    i, n = 2, len(payload)
    fields: list[int] = []
    while len(fields) < 3:
        # skip whitespace and '#' comments (to end of line)
        while i < n and payload[i : i + 1].isspace():
            i += 1
        if i < n and payload[i : i + 1] == b"#":
            while i < n and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < n and not payload[j : j + 1].isspace():
            j += 1
        # strict ASCII digits only: Python's int() accepts '+2'/'1_2'
        # forms no NetPBM writer emits — a corrupted header byte must
        # fail, not parse (bytes.isdigit is exactly [0-9]+)
        if j == i or not payload[i:j].isdigit():
            raise ValueError(f"malformed PPM header field {payload[i:j]!r}")
        fields.append(int(payload[i:j]))
        i = j
    # exactly ONE whitespace byte separates maxval from pixel data
    if i >= n or not payload[i : i + 1].isspace():
        raise ValueError("malformed PPM header (no separator before pixels)")
    i += 1
    width, height, maxval = fields
    if width < 1 or height < 1:
        raise ValueError(f"invalid PPM dimensions {width}x{height}")
    if not 0 < maxval <= 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    pixels = payload[i:]
    if len(pixels) != width * height * 3:
        raise ValueError(
            f"PPM pixel section is {len(pixels)} bytes, expected {width * height * 3}"
        )
    return width, height, maxval, pixels


def decode_wav(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL audio decode for RIFF/WAVE PCM — pure Python, no codec libs
    (the audio sibling of decode_ppm). Walks the RIFF chunk list (fmt /
    data in any order, unknown chunks skipped with their declared sizes,
    odd-sized chunks padded per the RIFF spec), validates PCM format code
    1 with 8- or 16-bit samples, and returns (n_channels, sample_rate,
    bits, data_bytes). Raises ValueError on a wrong magic, a malformed or
    missing chunk, a non-PCM format, or a data section that is not a whole
    number of frames — truncated audio fails loudly, never yields garbage
    sample stats."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    declared = int.from_bytes(payload[4:8], "little")
    if declared + 8 != len(payload):
        raise ValueError(
            f"RIFF size {declared} inconsistent with payload of {len(payload)} bytes"
        )
    i, n = 12, len(payload)
    fmt = None
    data = None
    while i + 8 <= n:
        cid = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + size]
        if len(body) != size:
            raise ValueError(f"chunk {cid!r} truncated ({len(body)}/{size} bytes)")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too small")
            fmt = (
                int.from_bytes(body[0:2], "little"),   # audio format
                int.from_bytes(body[2:4], "little"),   # channels
                int.from_bytes(body[4:8], "little"),   # sample rate
                int.from_bytes(body[14:16], "little"),  # bits per sample
            )
        elif cid == b"data":
            data = body
        i += 8 + size + (size % 2)  # RIFF pads odd chunks to even offsets
    if i < n:
        # 1-7 stray bytes after the last chunk: a truncated chunk header,
        # not valid RIFF — reject, never silently ignore
        raise ValueError(f"{n - i} trailing byte(s) after the last RIFF chunk")
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, rate, bits = fmt
    if audio_format != 1:
        raise ValueError(f"unsupported WAV format code {audio_format} (PCM only)")
    if bits not in (8, 16):
        raise ValueError(f"unsupported PCM bit depth {bits}")
    if channels < 1:
        raise ValueError("invalid channel count 0")
    frame = channels * (bits // 8)
    if len(data) % frame != 0:
        raise ValueError(
            f"data section {len(data)} bytes is not a whole number of "
            f"{frame}-byte frames"
        )
    return channels, rate, bits, data


def decode_y4m(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL video decode for YUV4MPEG2 (Y4M) mono streams — pure Python,
    no codec libs (the video sibling of decode_ppm/decode_wav, closing the
    image/audio/video triple with real container bytes). Parses the stream
    header (magic, space-separated parameters, newline-terminated; W and H
    required, F/I/A/X tolerated and irrelevant to the byte layout), then
    walks the FRAME list: each frame is the literal ``FRAME``, optional
    parameters up to a newline, then exactly width*height luma bytes
    (``Cmono`` / 4:0:0 — one byte per pixel keeps the arithmetic exact in
    pure Python; the Y4M default 420 and every other colorspace are
    rejected as unsupported, never mis-sliced). Returns
    ``(width, height, n_frames, planes)`` with ``planes`` = the
    concatenated frame bytes. Raises ValueError on a wrong magic, a
    missing or malformed W/H, a non-mono colorspace, a malformed FRAME
    marker, a truncated frame, or a stream with no frames — truncated
    video fails loudly, never yields garbage stats."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("unterminated stream header")
    width = height = None
    colorspace = b"420"  # the Y4M default when no C parameter is present
    for tok in payload[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            # strict ASCII digits only (int() accepts '+2'/'1_2' forms no
            # Y4M writer emits — a corrupted header byte must fail)
            if not val.isdigit():
                raise ValueError(f"malformed Y4M width {tok!r}")
            width = int(val)
        elif tag == b"H":
            if not val.isdigit():
                raise ValueError(f"malformed Y4M height {tok!r}")
            height = int(val)
        elif tag == b"C":
            colorspace = val
    if not width or not height:
        raise ValueError("Y4M stream header missing W or H")
    if colorspace != b"mono":
        raise ValueError(f"unsupported Y4M colorspace {colorspace!r} (mono only)")
    frame_bytes = width * height
    i, n = nl + 1, len(payload)
    planes: list[bytes] = []
    while i < n:
        if payload[i : i + 5] != b"FRAME" or payload[i + 5 : i + 6] not in (b"\n", b" "):
            raise ValueError(
                f"malformed FRAME marker before frame {len(planes)}"
            )
        fnl = payload.find(b"\n", i + 5)
        if fnl < 0:
            raise ValueError("unterminated FRAME header")
        body = payload[fnl + 1 : fnl + 1 + frame_bytes]
        if len(body) != frame_bytes:
            raise ValueError(
                f"frame {len(planes)} truncated ({len(body)}/{frame_bytes} bytes)"
            )
        planes.append(body)
        i = fnl + 1 + frame_bytes
    if not planes:
        raise ValueError("Y4M stream contains no frames")
    return width, height, len(planes), b"".join(planes)


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def paeth_predictor(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): a=left, b=up, c=upper-left.
    Picks whichever neighbor is closest to p = a + b - c, tie order
    a, b, c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(width: int, height: int, rgb: bytes, *, n_idat: int = 2) -> bytes:
    """REAL PNG encode — pure Python (stdlib zlib only): 8-bit truecolor
    (color type 2), non-interlaced, one filter byte per scanline CYCLING
    through all five PNG filter types (row % 5 → None/Sub/Up/Average/
    Paeth) so any consumer must implement full filter reconstruction, not
    just the filter-0 fast path. IDAT is split into ``n_idat`` chunks to
    force multi-IDAT concatenation in decoders. Every chunk carries its
    CRC-32 per the spec."""
    if width < 1 or height < 1:
        raise ValueError(f"invalid PNG dimensions {width}x{height}")
    bpp = 3  # bytes per pixel (8-bit RGB)
    stride = width * bpp
    if len(rgb) != stride * height:
        raise ValueError(
            f"RGB section is {len(rgb)} bytes, expected {stride * height}"
        )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    filtered = bytearray()
    prev = bytes(stride)
    for r in range(height):
        raw = rgb[r * stride : (r + 1) * stride]
        ftype = r % 5
        filtered.append(ftype)
        if ftype == 0:  # None
            filtered += raw
        elif ftype == 1:  # Sub
            filtered += bytes(
                (raw[i] - (raw[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(stride)
            )
        elif ftype == 2:  # Up
            filtered += bytes((raw[i] - prev[i]) & 0xFF for i in range(stride))
        elif ftype == 3:  # Average
            filtered += bytes(
                (raw[i] - ((raw[i - bpp] if i >= bpp else 0) + prev[i]) // 2) & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            filtered += bytes(
                (
                    raw[i]
                    - paeth_predictor(
                        raw[i - bpp] if i >= bpp else 0,
                        prev[i],
                        prev[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = raw

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    compressed = zlib.compress(bytes(filtered), 9)
    n_idat = max(1, min(n_idat, len(compressed)))
    step = -(-len(compressed) // n_idat)  # ceil division
    idats = b"".join(
        chunk(b"IDAT", compressed[o : o + step])
        for o in range(0, len(compressed), step)
    )
    return PNG_SIGNATURE + chunk(b"IHDR", ihdr) + idats + chunk(b"IEND", b"")


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL PNG decode — pure Python (stdlib zlib inflate + full filter
    reconstruction) for the dominant web image format. Supports
    the profile a training corpus scrubber actually needs deterministic
    bytes from: 8-bit truecolor (color type 2), non-interlaced. Walks the
    chunk list verifying EVERY chunk's CRC-32, requires IHDR first and
    IEND last, concatenates multi-chunk IDAT, zlib-decompresses (adler32
    checked by zlib itself), then reconstructs all five scanline filter
    types (None/Sub/Up/Average/Paeth). Returns (width, height, bit_depth,
    rgb_bytes). Raises ValueError on a wrong signature, CRC mismatch,
    unsupported IHDR profile, short/long inflate output, or trailing
    garbage — a corrupt image must fail loudly, never yield silent
    garbage pixels."""
    if len(payload) < len(PNG_SIGNATURE) or not payload.startswith(PNG_SIGNATURE):
        raise ValueError("not a PNG (signature missing)")
    i, n = len(PNG_SIGNATURE), len(payload)
    chunks: list[tuple[bytes, bytes]] = []
    while i < n:
        if i + 8 > n:
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[i : i + 4])
        ctype = payload[i + 4 : i + 8]
        if i + 12 + length > n:
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        data = payload[i + 8 : i + 8 + length]
        (crc,) = struct.unpack(">I", payload[i + 8 + length : i + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in PNG chunk {ctype!r}")
        chunks.append((ctype, data))
        i += 12 + length
        if ctype == b"IEND":
            break
    if i != n:
        raise ValueError("trailing bytes after PNG IEND")
    if not chunks or chunks[0][0] != b"IHDR" or chunks[-1][0] != b"IEND":
        raise ValueError("PNG must start with IHDR and end with IEND")
    ihdr = chunks[0][1]
    if len(ihdr) != 13:
        raise ValueError(f"IHDR is {len(ihdr)} bytes, expected 13")
    width, height, depth, ctype_i, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if width < 1 or height < 1:
        raise ValueError(f"invalid PNG dimensions {width}x{height}")
    if (depth, ctype_i, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            "unsupported PNG profile (only 8-bit truecolor, "
            f"non-interlaced): depth={depth} color={ctype_i} "
            f"comp={comp} filter={filt} interlace={interlace}"
        )
    idat = b"".join(d for t, d in chunks if t == b"IDAT")
    if not idat:
        raise ValueError("PNG contains no IDAT data")
    bpp = 3
    stride = width * bpp
    expected = (stride + 1) * height
    # bounded inflate: cap the output at expected+1 bytes BEFORE allocating
    # (a crafted 1x1 IHDR with a gigabyte-inflating IDAT must fail in the
    # size check, not OOM the worker — untrusted-payload discipline)
    dec = zlib.decompressobj()
    raw = dec.decompress(idat, expected + 1)
    if len(raw) != expected or not dec.eof or dec.unused_data:
        raise ValueError(
            f"inflated PNG stream is {'>' if len(raw) > expected else ''}"
            f"{len(raw)} bytes, expected {expected}"
        )
    out = bytearray(stride * height)
    prev_off = -stride
    for r in range(height):
        ftype = raw[r * (stride + 1)]
        line = raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)]
        off = r * stride
        if ftype == 0:  # None
            out[off : off + stride] = line
        elif ftype == 1:  # Sub
            for j in range(stride):
                left = out[off + j - bpp] if j >= bpp else 0
                out[off + j] = (line[j] + left) & 0xFF
        elif ftype == 2:  # Up
            for j in range(stride):
                up = out[prev_off + j] if r > 0 else 0
                out[off + j] = (line[j] + up) & 0xFF
        elif ftype == 3:  # Average
            for j in range(stride):
                left = out[off + j - bpp] if j >= bpp else 0
                up = out[prev_off + j] if r > 0 else 0
                out[off + j] = (line[j] + (left + up) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for j in range(stride):
                left = out[off + j - bpp] if j >= bpp else 0
                up = out[prev_off + j] if r > 0 else 0
                ul = out[prev_off + j - bpp] if (r > 0 and j >= bpp) else 0
                out[off + j] = (line[j] + paeth_predictor(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype} on row {r}")
        prev_off = off
    return width, height, depth, bytes(out)


# --- baseline JPEG: real huffman + dequant + IDCT, stdlib-only -----

# Annex K.1 luminance quantization table, with the DC step forced to 8:
# a FLAT 8x8 block has only a DC coefficient (8·(v−128)), so quantizing it
# by 8 stores exactly v−128 and the float IDCT reproduces v bit-exactly —
# the exactness the oracle key relies on. AC steps stay the spec values.
JPEG_QTABLE = [
    8, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# Annex K.3 typical huffman tables (luminance DC and AC): (bits, values)
JPEG_DC_BITS = [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
JPEG_DC_VALS = list(range(12))
JPEG_AC_BITS = [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
JPEG_AC_VALS = [
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
]

JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# float IDCT tables shared by both decode paths: cos((2x+1)·u·π/16) and
# the C(u) normalization
_IDCT_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
    for x in range(8)
]
_IDCT_C = [1 / math.sqrt(2)] + [1.0] * 7


def _jpeg_huff_encode_map(bits, vals):
    """(value -> (code, length)) from a (BITS, HUFFVAL) table pair."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_huff_decode_table(bits, vals):
    """((length, code) -> value) for the bit-at-a-time decoder."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


# encode maps built once: every encoder call reuses them
_LUMA_DC_MAP = _jpeg_huff_encode_map(JPEG_DC_BITS, JPEG_DC_VALS)
_LUMA_AC_MAP = _jpeg_huff_encode_map(JPEG_AC_BITS, JPEG_AC_VALS)


class _JpegBitWriter:
    __slots__ = ("buf", "acc", "n")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-bits pad the final byte
        return bytes(self.buf)


def _jpeg_category(v: int) -> int:
    mag, cat = abs(v), 0
    while mag:
        mag >>= 1
        cat += 1
    return cat


def encode_jpeg_gray(width: int, height: int, blocks: bytes) -> bytes:
    """REAL baseline JPEG encode for FLAT-BLOCK grayscale images — pure
    Python, stdlib-only: each byte of ``blocks`` is the gray level of one
    8x8 block (row-major over the (width/8, height/8) block grid), stored
    through the full baseline machinery (level shift, DC-only DCT,
    quantization by JPEG_QTABLE, Annex-K huffman DC coding, EOB AC coding,
    byte stuffing). Flat blocks make the lossy pipeline EXACT: DC = 8·s
    quantized by 8 stores s verbatim. Emits SOI/DQT/SOF0/DHT×2/SOS/EOI."""
    if width % 8 or height % 8 or width < 8 or height < 8:
        raise ValueError(f"flat-block JPEG needs multiple-of-8 dims, got {width}x{height}")
    bw, bh = width // 8, height // 8
    if len(blocks) != bw * bh:
        raise ValueError(f"block section is {len(blocks)} bytes, expected {bw * bh}")
    dc_map, ac_map = _LUMA_DC_MAP, _LUMA_AC_MAP
    w = _JpegBitWriter()
    prev_dc = 0
    for v in blocks:
        dc = v - 128  # quantized DC (q=8 divides the 8·s DCT coefficient)
        diff = dc - prev_dc
        prev_dc = dc
        cat = _jpeg_category(diff)
        code, length = dc_map[cat]
        w.put(code, length)
        if cat:
            bits_val = diff if diff >= 0 else diff + (1 << cat) - 1
            w.put(bits_val, cat)
        code, length = ac_map[0x00]  # EOB: all 63 AC coefficients zero
        w.put(code, length)
    scan = w.flush()

    def seg(marker: int, data: bytes) -> bytes:
        return struct.pack(">HH", marker, len(data) + 2) + data

    dqt = seg(0xFFDB, bytes([0]) + bytes(JPEG_QTABLE[JPEG_ZIGZAG[i]] for i in range(64)))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
    dht_dc = seg(0xFFC4, bytes([0x00]) + bytes(JPEG_DC_BITS[1:]) + bytes(JPEG_DC_VALS))
    dht_ac = seg(0xFFC4, bytes([0x10]) + bytes(JPEG_AC_BITS[1:]) + bytes(JPEG_AC_VALS))
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + scan + b"\xff\xd9"


def encode_jpeg_gray_rst(
    width: int, height: int, blocks: bytes, restart_interval: int
) -> bytes:
    """``encode_jpeg_gray`` with REAL restart intervals (T.81 §B.2.4.4 /
    §E.2.4) — the layout real crawl JPEGs overwhelmingly carry: a DRI
    segment declares the MCU interval, the scan is split into
    byte-aligned restart segments separated by RST0..RST7 markers cycling
    mod 8, and the DC predictor resets at every boundary (each segment's
    first DC diff is vs 0, not the previous block). Grayscale 1x1
    sampling: one MCU = one 8x8 block. Flat-block exactness is unchanged
    — the interval only re-anchors the DC chain."""
    if restart_interval < 1 or restart_interval > 65535:
        raise ValueError(f"restart interval out of range: {restart_interval}")
    if width % 8 or height % 8 or width < 8 or height < 8:
        raise ValueError(f"flat-block JPEG needs multiple-of-8 dims, got {width}x{height}")
    bw, bh = width // 8, height // 8
    if len(blocks) != bw * bh:
        raise ValueError(f"block section is {len(blocks)} bytes, expected {bw * bh}")
    dc_map, ac_map = _LUMA_DC_MAP, _LUMA_AC_MAP
    scan = bytearray()
    w = _JpegBitWriter()
    prev_dc = 0
    rst_n = 0
    for m, v in enumerate(blocks):
        if m and m % restart_interval == 0:
            scan += w.flush()
            scan += bytes([0xFF, 0xD0 + rst_n])
            rst_n = (rst_n + 1) % 8
            w = _JpegBitWriter()
            prev_dc = 0  # predictor re-anchors at every restart
        dc = v - 128
        diff = dc - prev_dc
        prev_dc = dc
        cat = _jpeg_category(diff)
        code, length = dc_map[cat]
        w.put(code, length)
        if cat:
            w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
        code, length = ac_map[0x00]
        w.put(code, length)
    scan += w.flush()

    def seg(marker: int, data: bytes) -> bytes:
        return struct.pack(">HH", marker, len(data) + 2) + data

    dqt = seg(0xFFDB, bytes([0]) + bytes(JPEG_QTABLE[JPEG_ZIGZAG[i]] for i in range(64)))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
    dht_dc = seg(0xFFC4, bytes([0x00]) + bytes(JPEG_DC_BITS[1:]) + bytes(JPEG_DC_VALS))
    dht_ac = seg(0xFFC4, bytes([0x10]) + bytes(JPEG_AC_BITS[1:]) + bytes(JPEG_AC_VALS))
    dri = seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + dri + sos
        + bytes(scan) + b"\xff\xd9"
    )


# progressive AC scans emit EOBn codes (T.81 §G.1.2.2: RS = n<<4, run in
# [2^n, 2^(n+1)-1]); Annex-K's sequential AC table has no s=0 codes besides
# EOB0/ZRL, so progressive streams carry their own small canonical table:
# six 3-bit codes for EOB0..EOB5 (runs up to 63 blocks)
JPEG_PROG_AC_BITS = [0, 0, 0, 6, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
JPEG_PROG_AC_VALS = [0x00, 0x10, 0x20, 0x30, 0x40, 0x50]
_PROG_AC_MAP = _jpeg_huff_encode_map(JPEG_PROG_AC_BITS, JPEG_PROG_AC_VALS)


def _put_eobrun(w, ac_map, run: int) -> None:
    """Emit one EOBn code covering ``run`` consecutive all-zero-band
    blocks (encoder side of §G.1.2.2)."""
    while run > 0:
        n = 0
        while (2 << n) <= run and n < 5:
            n += 1
        take = min(run, (2 << n) - 1)
        code, length = ac_map[n << 4]
        w.put(code, length)
        if n:
            w.put(take - (1 << n), n)
        run -= take


def encode_jpeg_gray_progressive(
    width: int, height: int, blocks: bytes
) -> bytes:
    """REAL progressive JPEG encode (T.81 §G / SOF2) for FLAT-BLOCK
    grayscale — pure Python, stdlib-only, same fixture contract as
    ``encode_jpeg_gray``. Five scans exercise BOTH progressive modes:

    1. DC first   (Ss=0 Se=0  Ah=0 Al=1): DPCM over ``dc >> 1`` (the §G
       point transform is an arithmetic shift), Annex-K DC huffman;
    2. AC first   (Ss=1 Se=5  Ah=0 Al=1): spectral-selection low band —
       flat blocks have zero AC, so the whole scan is ONE EOBRUN chain;
    3. AC first   (Ss=6 Se=63 Ah=0 Al=1): the high band;
    4. AC refine  (Ss=1 Se=63 Ah=1 Al=0): §G.1.2.3 refinement — EOBRUN
       with zero correction bits (no nonzero history);
    5. DC refine  (Ss=0 Se=0  Ah=1 Al=0): one raw bit per block
       (``dc & 1``), no huffman table.

    Flat-block exactness is unchanged: (dc >> 1) << 1 | (dc & 1) == dc
    for any int, so the reassembled DC equals the baseline value and the
    decoder recovers the exact pixels. Decoded by decode_jpeg's §G path;
    the DuckDB oracle re-slices the ORIGINAL text bytes."""
    if width % 8 or height % 8 or width < 8 or height < 8:
        raise ValueError(
            f"flat-block JPEG needs multiple-of-8 dims, got {width}x{height}"
        )
    bw, bh = width // 8, height // 8
    if len(blocks) != bw * bh:
        raise ValueError(
            f"block section is {len(blocks)} bytes, expected {bw * bh}"
        )
    dc_map, ac_map = _LUMA_DC_MAP, _PROG_AC_MAP
    dcs = [v - 128 for v in blocks]

    # scan 1: DC first, Al=1 — DPCM chain over the shifted values
    w = _JpegBitWriter()
    prev = 0
    for dc in dcs:
        hi = dc >> 1
        diff = hi - prev
        prev = hi
        cat = _jpeg_category(diff)
        code, length = dc_map[cat]
        w.put(code, length)
        if cat:
            w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
    dc_first = w.flush()

    # scans 2-4: every block's band is all-zero → pure EOBRUN chains
    ac_scans = []
    for _ in range(3):
        w = _JpegBitWriter()
        _put_eobrun(w, ac_map, len(dcs))
        ac_scans.append(w.flush())

    # scan 5: DC refinement — the Al=0 bit of every DC, raw
    w = _JpegBitWriter()
    for dc in dcs:
        w.put(dc & 1, 1)
    dc_refine = w.flush()

    def seg(marker: int, data: bytes) -> bytes:
        return struct.pack(">HH", marker, len(data) + 2) + data

    def sos(ss: int, se: int, ah: int, al: int, ta: int) -> bytes:
        return seg(0xFFDA, bytes([1, 1, ta, ss, se, (ah << 4) | al]))

    dqt = seg(
        0xFFDB,
        bytes([0]) + bytes(JPEG_QTABLE[JPEG_ZIGZAG[i]] for i in range(64)),
    )
    sof = seg(
        0xFFC2, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    )
    dht_dc = seg(0xFFC4, bytes([0x00]) + bytes(JPEG_DC_BITS[1:]) + bytes(JPEG_DC_VALS))
    dht_ac = seg(
        0xFFC4,
        bytes([0x11]) + bytes(JPEG_PROG_AC_BITS[1:]) + bytes(JPEG_PROG_AC_VALS),
    )
    return (
        b"\xff\xd8" + dqt + sof + dht_dc + dht_ac
        + sos(0, 0, 0, 1, 0x00) + dc_first
        + sos(1, 5, 0, 1, 0x01) + ac_scans[0]
        + sos(6, 63, 0, 1, 0x01) + ac_scans[1]
        + sos(1, 63, 1, 0, 0x01) + ac_scans[2]
        + sos(0, 0, 1, 0, 0x00) + dc_refine
        + b"\xff\xd9"
    )


def _decode_progressive_gray(
    payload: bytes,
    i: int,
    sos_data: bytes,
    qtables: dict,
    huff: dict,
    width: int,
    height: int,
    comp_q: int,
) -> bytes:
    """Progressive (SOF2, T.81 §G) scan loop for the single-component
    path: accumulates per-block coefficients across DC/AC first and
    refinement scans (EOBRUN per §G.1.2.2, refinement per §G.1.2.3 —
    the control flow follows the public libjpeg decode_mcu_AC_refine
    structure), then dequantizes and runs the same IDCT/level-shift as
    the baseline path. Scan-order violations (refinement before first,
    duplicate first scans, non-unit approximation steps, bad bands) and
    restart markers refuse loudly."""
    n = len(payload)
    if comp_q not in qtables:
        raise ValueError(f"missing quantization table {comp_q}")
    qt = qtables[comp_q]
    bw, bh = (width + 7) // 8, (height + 7) // 8
    nblocks = bw * bh
    coeff = [[0] * 64 for _ in range(nblocks)]
    dc_al = None  # Al of the last DC scan (None = no DC scan yet)
    ac_al = [None] * 64  # per-zigzag-position Al of the last AC scan

    while True:
        # ---- this scan's header ----
        if len(sos_data) < 6:
            raise ValueError("truncated SOS")
        if sos_data[0] != 1:
            raise ValueError("progressive scan must cover the single component")
        td, ta = sos_data[2] >> 4, sos_data[2] & 0xF
        ss, se = sos_data[3], sos_data[4]
        ah, al = sos_data[5] >> 4, sos_data[5] & 0xF
        if ss == 0:
            if se != 0:
                raise ValueError(
                    "progressive DC scan must have Se=0 (Ss=0,Se=63 is a "
                    "sequential scan header inside a SOF2 frame)"
                )
        elif not (1 <= ss <= se <= 63):
            raise ValueError(f"bad spectral selection band {ss}..{se}")
        if ah == 0:
            if ss == 0:
                if dc_al is not None:
                    raise ValueError("duplicate progressive DC first scan")
                dc_al = al
            else:
                for k in range(ss, se + 1):
                    if ac_al[k] is not None:
                        raise ValueError(
                            f"duplicate progressive AC first scan at k={k}"
                        )
                    ac_al[k] = al
        else:
            if ah != al + 1:
                raise ValueError(
                    "successive approximation must refine one bit "
                    f"(Ah={ah}, Al={al})"
                )
            if ss == 0:
                if dc_al != ah:
                    raise ValueError(
                        "DC refinement scan without matching first scan"
                    )
                dc_al = al
            else:
                for k in range(ss, se + 1):
                    if ac_al[k] != ah:
                        raise ValueError(
                            "AC refinement scan without matching first scan"
                        )
                    ac_al[k] = al

        # ---- entropy-coded bytes (unstuffed; RSTn refuses) ----
        bits_data = bytearray()
        j = i
        while j < n:
            b = payload[j]
            if b == 0xFF:
                if j + 1 >= n:
                    raise ValueError("truncated JPEG scan")
                nxt = payload[j + 1]
                if nxt == 0x00:
                    bits_data.append(0xFF)
                    j += 2
                    continue
                if 0xD0 <= nxt <= 0xD7:
                    raise ValueError(
                        "restart intervals in progressive scans unsupported"
                    )
                break
            bits_data.append(b)
            j += 1
        pos = 0

        def read_bit() -> int:
            nonlocal pos
            if pos >> 3 >= len(bits_data):
                raise ValueError("JPEG entropy stream exhausted mid-block")
            bit = (bits_data[pos >> 3] >> (7 - (pos & 7))) & 1
            pos += 1
            return bit

        def read_huff(tbl) -> int:
            code = 0
            for length in range(1, 17):
                code = (code << 1) | read_bit()
                if (length, code) in tbl:
                    return tbl[(length, code)]
            raise ValueError("invalid huffman code in JPEG scan")

        def receive(cnt: int) -> int:
            v = 0
            for _ in range(cnt):
                v = (v << 1) | read_bit()
            return v

        def receive_extend(cat: int) -> int:
            if cat == 0:
                return 0
            v = receive(cat)
            if v < (1 << (cat - 1)):
                v -= (1 << cat) - 1
            return v

        # ---- decode one scan over all blocks ----
        if ss == 0 and ah == 0:  # DC first: DPCM over the shifted values
            if (0, td) not in huff:
                raise ValueError("missing huffman table")
            dc_tbl = huff[(0, td)]
            prev = 0
            for bi in range(nblocks):
                prev += receive_extend(read_huff(dc_tbl))
                coeff[bi][0] = prev << al
        elif ss == 0:  # DC refinement: one raw bit per block
            for bi in range(nblocks):
                if read_bit():
                    coeff[bi][0] |= 1 << al
        elif ah == 0:  # AC first (§G.1.2.2, EOBRUN)
            if (1, ta) not in huff:
                raise ValueError("missing huffman table")
            ac_tbl = huff[(1, ta)]
            eobrun = 0
            for bi in range(nblocks):
                cb = coeff[bi]
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = read_huff(ac_tbl)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r == 15:  # ZRL: sixteen zeros
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += receive(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("JPEG AC run overflows the band")
                    cb[JPEG_ZIGZAG[k]] = receive_extend(s) << al
                    k += 1
        else:  # AC refinement (§G.1.2.3; libjpeg decode_mcu_AC_refine flow)
            if (1, ta) not in huff:
                raise ValueError("missing huffman table")
            ac_tbl = huff[(1, ta)]
            p1, m1 = 1 << al, -(1 << al)
            eobrun = 0
            for bi in range(nblocks):
                cb = coeff[bi]
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = read_huff(ac_tbl)
                        r, s = rs >> 4, rs & 0xF
                        if s:
                            if s != 1:
                                raise ValueError(
                                    "AC refinement magnitude must be 1"
                                )
                            s = p1 if read_bit() else m1
                        elif r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += receive(r)
                            break
                        # advance over r zero-history positions, emitting
                        # correction bits for nonzero-history ones passed
                        while k <= se:
                            cz = JPEG_ZIGZAG[k]
                            if cb[cz]:
                                if read_bit() and not (cb[cz] & p1):
                                    cb[cz] += p1 if cb[cz] >= 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if s and k <= se:
                            cb[JPEG_ZIGZAG[k]] = s
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        cz = JPEG_ZIGZAG[k]
                        if cb[cz]:
                            if read_bit() and not (cb[cz] & p1):
                                cb[cz] += p1 if cb[cz] >= 0 else m1
                        k += 1
                    eobrun -= 1
        if (pos + 7) >> 3 < len(bits_data):
            raise ValueError("unconsumed bytes after final block in scan")

        # ---- walk to the next scan / EOI ----
        i = j
        sos_data = None
        while i < n:
            if payload[i] != 0xFF:
                raise ValueError(f"expected a marker at offset {i}")
            marker = payload[i + 1]
            i += 2
            if marker == 0xD9:  # EOI
                if i != n:
                    raise ValueError("trailing bytes after JPEG EOI")
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                raise ValueError(
                    "restart intervals in progressive scans unsupported"
                )
            if i + 2 > n:
                raise ValueError("truncated JPEG segment header")
            seglen = (payload[i] << 8) | payload[i + 1]
            if seglen < 2 or i + seglen > n:
                raise ValueError("truncated JPEG segment")
            data = payload[i + 2 : i + seglen]
            i += seglen
            if marker == 0xC4:  # per-scan DHT updates
                jj = 0
                while jj < len(data):
                    if jj + 17 > len(data):
                        raise ValueError("truncated DHT")
                    tc, th = data[jj] >> 4, data[jj] & 0xF
                    bits = [0] + list(data[jj + 1 : jj + 17])
                    nv = sum(bits)
                    vals = list(data[jj + 17 : jj + 17 + nv])
                    if len(vals) != nv:
                        raise ValueError("truncated DHT")
                    huff[(tc, th)] = _jpeg_huff_decode_table(bits, vals)
                    jj += 17 + nv
            elif marker == 0xDA:
                sos_data = data
                break
            elif marker == 0xDD:
                raise ValueError(
                    "restart intervals in progressive scans unsupported"
                )
            elif marker in (0xDB,):
                raise ValueError("DQT between progressive scans unsupported")
            else:
                raise ValueError(
                    f"unexpected marker 0x{marker:02x} between scans"
                )
        else:
            raise ValueError("JPEG scan not terminated by EOI")
        if sos_data is None:
            break  # EOI reached

    # ---- dequantize + IDCT (same math as the baseline path) ----
    cos_t, c = _IDCT_COS, _IDCT_C
    out = bytearray(width * height)
    for by in range(bh):
        for bx in range(bw):
            cb = coeff[by * bw + bx]
            deq = [cb[idx] * qt[idx] for idx in range(64)]
            nz = [(idx, cf) for idx, cf in enumerate(deq) if cf]
            if not nz or (len(nz) == 1 and nz[0][0] == 0):
                val = int(round(deq[0] / 8)) + 128
                val = 0 if val < 0 else (255 if val > 255 else val)
                block = [float(val)] * 64
                flat_done = True
            else:
                acc = [0.0] * 64
                for idx, cf in nz:
                    v, u = idx // 8, idx % 8
                    cvu = c[v] * c[u] * cf
                    for y in range(8):
                        cy = cos_t[y][v] * cvu
                        row = y * 8
                        for x in range(8):
                            acc[row + x] += cy * cos_t[x][u]
                block = acc
                flat_done = False
            for y in range(8):
                py = by * 8 + y
                if py >= height:
                    break
                row_off = py * width
                brow = y * 8
                for x in range(8):
                    px = bx * 8 + x
                    if px >= width:
                        continue
                    if flat_done:
                        out[row_off + px] = int(block[brow + x])
                    else:
                        val = int(round(block[brow + x] / 4)) + 128
                        out[row_off + px] = (
                            0 if val < 0 else (255 if val > 255 else val)
                        )
    return bytes(out)


def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL baseline JPEG decode — pure Python (numpy only for the color
    conversion): baseline sequential DCT (SOF0), 8-bit, single-component
    grayscale OR 3-component color with per-component sampling factors 1
    or 2 — 4:4:4, 4:2:2, 4:4:0, AND 4:2:0 (real camera/web corpora are
    overwhelmingly 4:2:0). Implements the full pipeline — marker walk
    (APPn/COM skipped by their declared lengths), DQT (8-bit tables),
    DHT huffman table builds (multiple slots), SOS entropy-coded
    segment with byte-stuffing removal, interleaved-MCU decode (h×v
    blocks per component per MCU, raster order per T.81 §A.2.3) with
    per-component DC prediction + EXTEND, AC run-length/EOB/ZRL decode,
    zigzag, dequantization, float 2-D IDCT, level shift and clamp,
    chroma upsampling by sample replication (T.81 leaves the upsampling
    filter to the decoder; replication is the libjpeg "simple" mode and
    is EXACT on flat chroma), and the JFIF YCbCr→RGB conversion with
    floor(x+0.5) rounding (chosen over round() so an ANSI-SQL oracle
    computes identical IEEE arithmetic). Returns (width, height,
    n_components, pixel_bytes row-major, RGB-interleaved when
    n_components == 3). Restart intervals decode: DRI (T.81 §B.2.4.4) sets the MCU interval, RSTn markers split the
    scan into byte-aligned segments with DC predictors reset per
    interval (§E.2.4); wrong-order / missing / unconsumed segments
    refuse loudly. Progressive (SOF2, T.81 §G) decodes for the
    single-component path — multi-scan coefficient accumulation,
    spectral selection, successive approximation, EOBRUN (see
    _decode_progressive_gray); COLOR progressive and sampling factors
    3/4 stay honest refusals. Bounded: output allocation is
    width*height*nc from SOF0, validated against 65535x65535 max."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (SOI missing)")
    i, n = 2, len(payload)
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = 0
    restart_interval = 0  # DRI: MCUs per restart interval (0 = none)
    progressive = False  # SOF2 (T.81 §G) — single-component path
    # (component_id, quant_table_id, h_sampling, v_sampling)
    comps: list[tuple[int, int, int, int]] = []
    scan_ids: list[tuple[int, int]] = []  # (dc_table_id, ac_table_id)
    scan_start = -1
    while i < n:
        if payload[i] != 0xFF:
            raise ValueError(f"expected a marker at offset {i}")
        marker = payload[i + 1]
        i += 2
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("JPEG has no scan data")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        if i + 2 > n:
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", payload[i : i + 2])
        if seglen < 2 or i + seglen > n:
            raise ValueError("truncated JPEG segment")
        data = payload[i + 2 : i + seglen]
        i += seglen
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(data):
                pq, tq = data[j] >> 4, data[j] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                if j + 65 > len(data):
                    raise ValueError("truncated DQT")
                zz = data[j + 1 : j + 65]
                tbl = [0] * 64
                for k in range(64):
                    tbl[JPEG_ZIGZAG[k]] = zz[k]
                qtables[tq] = tbl
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(data):
                if j + 17 > len(data):
                    raise ValueError("truncated DHT")
                tc, th = data[j] >> 4, data[j] & 0xF
                bits = [0] + list(data[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(data[j + 17 : j + 17 + nv])
                if len(vals) != nv:
                    raise ValueError("truncated DHT")
                huff[(tc, th)] = _jpeg_huff_decode_table(bits, vals)
                j += 17 + nv
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            if len(data) < 6:
                raise ValueError("truncated SOF0")
            precision, height, width, nc = struct.unpack(">BHHB", data[:6])
            if precision != 8:
                raise ValueError(f"unsupported JPEG precision {precision}")
            if progressive and nc != 1:
                raise ValueError(
                    "progressive (SOF2) JPEG decodes single-component "
                    "(grayscale) only; color progressive refuses loudly"
                )
            if nc not in (1, 3):
                raise ValueError(
                    "only 1-component (grayscale) or 3-component color "
                    "baseline JPEG decodes"
                )
            if len(data) < 6 + 3 * nc:
                raise ValueError("truncated SOF0")
            comps = []
            for ci in range(nc):
                cid, hv, tq = data[6 + 3 * ci : 9 + 3 * ci]
                ch, cv = hv >> 4, hv & 0xF
                if nc == 1 and hv != 0x11:
                    raise ValueError(
                        "grayscale JPEG must declare 1x1 sampling"
                    )
                if ch not in (1, 2) or cv not in (1, 2):
                    raise ValueError(
                        "only sampling factors 1 and 2 decode "
                        "(4:4:4 / 4:2:2 / 4:4:0 / 4:2:0)"
                    )
                comps.append((cid, tq, ch, cv))
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline sequential (SOF0) or progressive (SOF2) "
                "JPEG decodes"
            )
        elif marker == 0xDA:  # SOS
            if width == 0:
                raise ValueError("SOS before SOF0")
            if progressive:
                if restart_interval:
                    raise ValueError(
                        "restart intervals in progressive scans unsupported"
                    )
                if width < 1 or height < 1 or width > 65535 or height > 65535:
                    raise ValueError(
                        f"invalid JPEG dimensions {width}x{height}"
                    )
                gray = _decode_progressive_gray(
                    payload, i, data, qtables, huff, width, height,
                    comps[0][1],
                )
                return width, height, 1, gray
            if len(data) < 1 + 2 * len(comps) + 3:
                raise ValueError("truncated SOS")
            if data[0] != len(comps):
                raise ValueError("SOS component count differs from SOF0")
            scan_ids = []
            for ci in range(len(comps)):
                sel, tids = data[1 + 2 * ci], data[2 + 2 * ci]
                if sel != comps[ci][0]:
                    raise ValueError("SOS component order differs from SOF0")
                scan_ids.append((tids >> 4, tids & 0xF))
            scan_start = i
            break
        # APPn / COM etc.: skipped by length
        elif marker == 0xDD:  # DRI (T.81 §B.2.4.4): restart every Ri MCUs
            if len(data) != 2:
                raise ValueError("malformed DRI segment")
            (restart_interval,) = struct.unpack(">H", data)
    if scan_start < 0:
        raise ValueError("JPEG has no SOS marker")
    if width < 1 or height < 1 or width > 65535 or height > 65535:
        raise ValueError(f"invalid JPEG dimensions {width}x{height}")
    nc = len(comps)
    for ci in range(nc):
        if comps[ci][1] not in qtables:
            raise ValueError(f"missing quantization table {comps[ci][1]}")
        if (0, scan_ids[ci][0]) not in huff or (1, scan_ids[ci][1]) not in huff:
            raise ValueError("missing huffman table")
    hmax = max(cmp[2] for cmp in comps)
    vmax = max(cmp[3] for cmp in comps)

    # entropy-coded bytes: unstuff 0xFF00; RSTn (T.81 §E.2.4) splits the
    # scan into restart segments (sequence D0..D7 cycling, pinned); any
    # other marker ends the scan
    segs: list[bytearray] = [bytearray()]
    expected_rst = 0
    j = scan_start
    while j < n:
        b = payload[j]
        if b == 0xFF:
            if j + 1 >= n:
                raise ValueError("truncated JPEG scan")
            nxt = payload[j + 1]
            if nxt == 0x00:
                segs[-1].append(0xFF)
                j += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                if restart_interval == 0:
                    raise ValueError("RST marker in scan without DRI")
                if nxt != 0xD0 + expected_rst:
                    raise ValueError(
                        f"RST marker out of sequence: got RST{nxt - 0xD0}, "
                        f"expected RST{expected_rst}"
                    )
                expected_rst = (expected_rst + 1) % 8
                segs.append(bytearray())
                j += 2
                continue
            break  # a real marker ends the scan
        segs[-1].append(b)
        j += 1
    if payload[j : j + 2] != b"\xff\xd9":
        raise ValueError("JPEG scan not terminated by EOI")
    if j + 2 != n:
        raise ValueError("trailing bytes after JPEG EOI")

    seg_idx = 0
    bits_data = segs[0]
    pos = 0  # bit cursor within the current restart segment

    def read_bit() -> int:
        nonlocal pos
        if pos >> 3 >= len(bits_data):
            raise ValueError("JPEG entropy stream exhausted mid-block")
        bit = (bits_data[pos >> 3] >> (7 - (pos & 7))) & 1
        pos += 1
        return bit

    def advance_restart() -> None:
        # byte-align is implicit: the next segment starts a fresh cursor
        nonlocal seg_idx, bits_data, pos
        seg_idx += 1
        if seg_idx >= len(segs):
            raise ValueError("missing JPEG restart segment")
        bits_data = segs[seg_idx]
        pos = 0

    def read_huff(tbl) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | read_bit()
            if (length, code) in tbl:
                return tbl[(length, code)]
        raise ValueError("invalid huffman code in JPEG scan")

    def receive_extend(cat: int) -> int:
        if cat == 0:
            return 0
        v = 0
        for _ in range(cat):
            v = (v << 1) | read_bit()
        if v < (1 << (cat - 1)):
            v -= (1 << cat) - 1
        return v

    cos_t, c, zigzag = _IDCT_COS, _IDCT_C, JPEG_ZIGZAG

    # general interleaved-MCU geometry (T.81 §A.2.3): an MCU covers
    # 8·hmax × 8·vmax full-res pixels and carries h×v blocks per
    # component in raster order; each component decodes into its own
    # MCU-padded plane, resolved to full resolution afterwards. 4:4:4
    # (and grayscale) is exactly the hmax = vmax = 1 special case.
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    plane_dims = [
        (mcux * cmp[2] * 8, mcuy * cmp[3] * 8) for cmp in comps
    ]
    planes = [bytearray(pw * ph) for pw, ph in plane_dims]
    prev_dc = [0] * nc
    mcu_index = 0
    for my in range(mcuy):
        for mx in range(mcux):
            # restart boundary: next segment, DC predictors reset (§E.2.4)
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                advance_restart()
                prev_dc = [0] * nc
            mcu_index += 1
            for ci in range(nc):
                _, _, chs, cvs = comps[ci]
                qt = qtables[comps[ci][1]]
                dc_tbl = huff[(0, scan_ids[ci][0])]
                ac_tbl = huff[(1, scan_ids[ci][1])]
                pw = plane_dims[ci][0]
                for vy in range(cvs):
                    for hx in range(chs):
                        coeffs = [0] * 64
                        cat = read_huff(dc_tbl)
                        prev_dc[ci] += receive_extend(cat)
                        coeffs[0] = prev_dc[ci] * qt[0]
                        k = 1
                        while k < 64:
                            rs = read_huff(ac_tbl)
                            r, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if r == 15:  # ZRL: sixteen zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError(
                                    "JPEG AC run overflows the block"
                                )
                            coeffs[zigzag[k]] = (
                                receive_extend(size) * qt[zigzag[k]]
                            )
                            k += 1
                        # sparse IDCT: iterate only the nonzero
                        # coefficients (a typical block has a handful; a
                        # FLAT block has one). 64 adds per nonzero
                        # coefficient instead of 64 probes per pixel —
                        # same float math, ~50x less work on sparse
                        # spectra.
                        nz = [
                            (idx, cf) for idx, cf in enumerate(coeffs) if cf
                        ]
                        # planes are MCU-padded: every block lands fully
                        # in bounds, no per-pixel crop here
                        out = planes[ci]
                        base = ((my * cvs + vy) * 8) * pw + (mx * chs + hx) * 8
                        if not nz or (len(nz) == 1 and nz[0][0] == 0):
                            # DC-only fast path: every sample = DC/8
                            # (identical to the general path:
                            # c0*c0*DC/4 = DC/8, exact for integer DC)
                            val = int(round(coeffs[0] / 8)) + 128
                            row8 = bytes(
                                [0 if val < 0 else (255 if val > 255 else val)]
                            ) * 8
                            for y in range(8):
                                out[base + y * pw : base + y * pw + 8] = row8
                            continue
                        acc = [0.0] * 64
                        for idx, cf in nz:
                            v, u = idx // 8, idx % 8
                            cvu = c[v] * c[u] * cf
                            for y in range(8):
                                cy = cos_t[y][v] * cvu
                                row = y * 8
                                for x in range(8):
                                    acc[row + x] += cy * cos_t[x][u]
                        for y in range(8):
                            row_off = base + y * pw
                            brow = y * 8
                            for x in range(8):
                                val = int(round(acc[brow + x] / 4)) + 128
                                out[row_off + x] = (
                                    0 if val < 0 else (255 if val > 255 else val)
                                )
    if seg_idx != len(segs) - 1:
        raise ValueError("unconsumed JPEG restart segment after final MCU")
    if nc == 1:
        pw = plane_dims[0][0]
        gray = bytearray(width * height)
        for y in range(height):
            gray[y * width : (y + 1) * width] = planes[0][
                y * pw : y * pw + width
            ]
        return width, height, 1, bytes(gray)
    # chroma upsampling by sample replication (nearest-neighbor: full-res
    # (x, y) reads component sample (x·h//hmax, y·v//vmax) — integer
    # scale since h, v ∈ {1, 2}), then JFIF YCbCr -> RGB in float64 numpy:
    # the same IEEE operations, in the same order, as the scalar formula
    # r = floor(y + 1.402·cr + 0.5). floor(x + 0.5) instead of round():
    # Python round() is half-even, SQL ROUND is half-away — floor(+0.5)
    # is the ONE rounding both engines state identically on identical
    # IEEE doubles.
    full = []
    for ci in range(nc):
        pw, ph = plane_dims[ci]
        arr = np.frombuffer(planes[ci], dtype=np.uint8).reshape(ph, pw)
        sx, sy = hmax // comps[ci][2], vmax // comps[ci][3]
        if sy > 1:
            arr = np.repeat(arr, sy, axis=0)
        if sx > 1:
            arr = np.repeat(arr, sx, axis=1)
        full.append(arr[:height, :width].reshape(-1).astype(np.float64))
    yv, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    rgb = np.empty((width * height, 3), dtype=np.uint8)
    rgb[:, 0] = np.clip(np.floor(yv + 1.402 * cr + 0.5), 0.0, 255.0)
    rgb[:, 1] = np.clip(
        np.floor(yv - 0.344136 * cb - 0.714136 * cr + 0.5), 0.0, 255.0
    )
    rgb[:, 2] = np.clip(np.floor(yv + 1.772 * cb + 0.5), 0.0, 255.0)
    return width, height, 3, rgb.tobytes()


# Annex-K recommended chrominance huffman tables (ITU-T T.81 Tables
# K.4/K.6) — second DHT slot pair so a 3-component file carries the real
# four-table layout a camera JPEG has.
JPEG_DC_BITS_CHROMA = [0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
JPEG_DC_VALS_CHROMA = list(range(12))
JPEG_AC_BITS_CHROMA = [0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
JPEG_AC_VALS_CHROMA = [
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
]
# (dc, ac) encode maps per component: luma for Y, chroma for Cb and Cr
_COLOR_MAPS = [
    (_LUMA_DC_MAP, _LUMA_AC_MAP),
    (
        _jpeg_huff_encode_map(JPEG_DC_BITS_CHROMA, JPEG_DC_VALS_CHROMA),
        _jpeg_huff_encode_map(JPEG_AC_BITS_CHROMA, JPEG_AC_VALS_CHROMA),
    ),
]


def encode_jpeg_color(width: int, height: int, blocks: bytes) -> bytes:
    """REAL baseline JPEG encode for FLAT-BLOCK 4:4:4 COLOR images — pure
    Python, stdlib-only: every 3 bytes of ``blocks`` are the (Y, Cb, Cr)
    levels of one 8x8 block (row-major over the block grid), stored
    through the full 3-component baseline machinery: interleaved MCUs
    (Y, Cb, Cr block per MCU), per-component DC prediction, luminance
    huffman tables in DHT slot 0 and the Annex-K chrominance tables in
    slot 1, one shared DQT, byte stuffing. Flat blocks make the lossy
    pipeline EXACT per component: DC = 8·(s−128) quantized by 8 stores
    s−128 verbatim, so decode_jpeg recovers the integer YCbCr planes
    bit-exactly and only the documented floor(x+0.5) RGB conversion adds
    arithmetic an oracle must (and can) replicate."""
    if width % 8 or height % 8 or width < 8 or height < 8:
        raise ValueError(
            f"flat-block JPEG needs multiple-of-8 dims, got {width}x{height}"
        )
    bw, bh = width // 8, height // 8
    if len(blocks) != bw * bh * 3:
        raise ValueError(
            f"block section is {len(blocks)} bytes, expected {bw * bh * 3}"
        )
    maps = _COLOR_MAPS
    w = _JpegBitWriter()
    prev_dc = [0, 0, 0]
    for mcu in range(bw * bh):
        for ci in range(3):
            dc_map, ac_map = maps[0] if ci == 0 else maps[1]
            v = blocks[mcu * 3 + ci]
            dc = v - 128
            diff = dc - prev_dc[ci]
            prev_dc[ci] = dc
            cat = _jpeg_category(diff)
            code, length = dc_map[cat]
            w.put(code, length)
            if cat:
                w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
            code, length = ac_map[0x00]  # EOB
            w.put(code, length)
    scan = w.flush()

    def seg(marker: int, data: bytes) -> bytes:
        return struct.pack(">HH", marker, len(data) + 2) + data

    dqt = seg(
        0xFFDB, bytes([0]) + bytes(JPEG_QTABLE[JPEG_ZIGZAG[i]] for i in range(64))
    )
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dhts = (
        seg(0xFFC4, bytes([0x00]) + bytes(JPEG_DC_BITS[1:]) + bytes(JPEG_DC_VALS))
        + seg(0xFFC4, bytes([0x10]) + bytes(JPEG_AC_BITS[1:]) + bytes(JPEG_AC_VALS))
        + seg(
            0xFFC4,
            bytes([0x01])
            + bytes(JPEG_DC_BITS_CHROMA[1:])
            + bytes(JPEG_DC_VALS_CHROMA),
        )
        + seg(
            0xFFC4,
            bytes([0x11])
            + bytes(JPEG_AC_BITS_CHROMA[1:])
            + bytes(JPEG_AC_VALS_CHROMA),
        )
    )
    sos = seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dhts + sos + scan + b"\xff\xd9"


def encode_jpeg_color_420(width: int, height: int, mcus: bytes) -> bytes:
    """REAL baseline JPEG encode for FLAT-MCU 4:2:0 COLOR images — pure
    Python, stdlib-only: every 3 bytes of ``mcus`` are the (Y, Cb, Cr)
    levels of one 16x16 MCU (row-major over the MCU grid), stored through
    the full subsampled 3-component baseline machinery: Y declares 2x2
    sampling, Cb/Cr declare 1x1, so each interleaved MCU carries FOUR Y
    blocks (raster order per T.81 §A.2.3) then one Cb and one Cr block,
    with per-component DC prediction across all of them (the four flat Y
    blocks emit one real DC diff then three zero diffs — the exact
    pattern a camera JPEG's flat region produces). Flat MCUs make the
    lossy pipeline EXACT per component: DC = 8·(s−128) quantized by 8
    stores s−128 verbatim, and replication upsampling of flat chroma is
    the identity, so decode_jpeg recovers the integer YCbCr planes
    bit-exactly and only the documented floor(x+0.5) RGB conversion adds
    arithmetic an oracle must (and can) replicate."""
    if width % 16 or height % 16 or width < 16 or height < 16:
        raise ValueError(
            f"flat-MCU 4:2:0 JPEG needs multiple-of-16 dims, got "
            f"{width}x{height}"
        )
    mw, mh = width // 16, height // 16
    if len(mcus) != mw * mh * 3:
        raise ValueError(
            f"MCU section is {len(mcus)} bytes, expected {mw * mh * 3}"
        )
    maps = _COLOR_MAPS
    w = _JpegBitWriter()
    prev_dc = [0, 0, 0]
    for mcu in range(mw * mh):
        for ci in range(3):
            dc_map, ac_map = maps[0] if ci == 0 else maps[1]
            v = mcus[mcu * 3 + ci]
            dc = v - 128
            n_blocks = 4 if ci == 0 else 1  # Y is 2x2, chroma 1x1
            for _ in range(n_blocks):
                diff = dc - prev_dc[ci]
                prev_dc[ci] = dc
                cat = _jpeg_category(diff)
                code, length = dc_map[cat]
                w.put(code, length)
                if cat:
                    w.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
                code, length = ac_map[0x00]  # EOB
                w.put(code, length)
    scan = w.flush()

    def seg(marker: int, data: bytes) -> bytes:
        return struct.pack(">HH", marker, len(data) + 2) + data

    dqt = seg(
        0xFFDB, bytes([0]) + bytes(JPEG_QTABLE[JPEG_ZIGZAG[i]] for i in range(64))
    )
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dhts = (
        seg(0xFFC4, bytes([0x00]) + bytes(JPEG_DC_BITS[1:]) + bytes(JPEG_DC_VALS))
        + seg(0xFFC4, bytes([0x10]) + bytes(JPEG_AC_BITS[1:]) + bytes(JPEG_AC_VALS))
        + seg(
            0xFFC4,
            bytes([0x01])
            + bytes(JPEG_DC_BITS_CHROMA[1:])
            + bytes(JPEG_DC_VALS_CHROMA),
        )
        + seg(
            0xFFC4,
            bytes([0x11])
            + bytes(JPEG_AC_BITS_CHROMA[1:])
            + bytes(JPEG_AC_VALS_CHROMA),
        )
    )
    sos = seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dhts + sos + scan + b"\xff\xd9"


def build_exif_app1(
    orientation: int,
    xres_num: int,
    make: str,
    *,
    big_endian: bool,
) -> bytes:
    """REAL Exif APP1 segment — pure Python, stdlib-only: the
    ``Exif\\x00\\x00`` identifier followed by a genuine TIFF structure
    (CIPA DC-008 / TIFF 6.0): byte-order mark (II little / MM big), magic
    42, IFD0 with three entries in ascending-tag order — Make (0x010F,
    ASCII, NUL-terminated, stored OUT-OF-LINE at an offset because it
    exceeds the 4-byte inline field), Orientation (0x0112, SHORT, inline
    left-justified per byte order), XResolution (0x011A, RATIONAL, 8
    out-of-line bytes num/den) — then the out-of-line value area. Both
    endiannesses are first-class: real camera files ship both (II from
    most makers, MM from classic TIFF-lineage firmware)."""
    bo = ">" if big_endian else "<"
    make_b = make.encode("ascii") + b"\x00"
    n_entries = 3
    ifd_start = 8
    after_ifd = ifd_start + 2 + n_entries * 12 + 4
    make_off = after_ifd
    rat_off = make_off + len(make_b)

    def entry(tag, typ, count, value_bytes):
        return struct.pack(bo + "HHI", tag, typ, count) + value_bytes

    # SHORT inline: value occupies the first two bytes of the 4-byte field
    # in the file's byte order, remainder zero-padded
    ori_inline = struct.pack(bo + "H", orientation) + b"\x00\x00"
    entries = (
        entry(0x010F, 2, len(make_b), struct.pack(bo + "I", make_off))
        + entry(0x0112, 3, 1, ori_inline)
        + entry(0x011A, 5, 1, struct.pack(bo + "I", rat_off))
    )
    tiff = (
        (b"MM" if big_endian else b"II")
        + struct.pack(bo + "H", 42)
        + struct.pack(bo + "I", ifd_start)
        + struct.pack(bo + "H", n_entries)
        + entries
        + struct.pack(bo + "I", 0)  # no IFD1
        + make_b
        + struct.pack(bo + "II", xres_num, 1)
    )
    data = b"Exif\x00\x00" + tiff
    return struct.pack(">HH", 0xFFE1, len(data) + 2) + data


def parse_exif(payload: bytes) -> tuple[str, int, float, str, int]:
    """REAL Exif parse from a JPEG payload — pure Python, stdlib-only:
    walk markers to APP1, validate the ``Exif\\x00\\x00`` identifier and
    TIFF header (byte-order mark, magic 42), then walk IFD0 extracting
    Make (ASCII, inline-or-offset per TIFF value-fits-in-4-bytes rule),
    Orientation (SHORT, inline per byte order) and XResolution (RATIONAL
    at offset, zero-denominator rejected). Returns (byte_order,
    orientation, xres, make, n_ifd_entries). ValueError on anything
    malformed — truncated IFD, bad magic, out-of-range offsets — never
    silent garbage."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (SOI missing)")
    i, n = 2, len(payload)
    app1 = None
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError(f"expected a marker at offset {i}")
        marker = payload[i + 1]
        if marker in (0xD8, 0xD9) or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
        if seglen < 2 or i + 2 + seglen > n:
            raise ValueError("truncated JPEG segment")
        if marker == 0xE1:
            app1 = payload[i + 4 : i + 2 + seglen]
            break
        if marker == 0xDA:
            break  # scan reached without APP1
        i += 2 + seglen
    if app1 is None:
        raise ValueError("JPEG has no APP1 segment")
    if app1[:6] != b"Exif\x00\x00":
        raise ValueError("APP1 is not Exif")
    t = app1[6:]
    if len(t) < 8:
        raise ValueError("truncated TIFF header")
    if t[:2] == b"II":
        bo, bo_name = "<", "II"
    elif t[:2] == b"MM":
        bo, bo_name = ">", "MM"
    else:
        raise ValueError("bad TIFF byte-order mark")
    (magic,) = struct.unpack(bo + "H", t[2:4])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    (ifd_off,) = struct.unpack(bo + "I", t[4:8])
    if ifd_off + 2 > len(t):
        raise ValueError("IFD offset out of range")
    (n_entries,) = struct.unpack(bo + "H", t[ifd_off : ifd_off + 2])
    if ifd_off + 2 + n_entries * 12 + 4 > len(t):
        raise ValueError("truncated IFD")
    orientation = xres = make = None
    for e in range(n_entries):
        off = ifd_off + 2 + e * 12
        tag, typ, count = struct.unpack(bo + "HHI", t[off : off + 8])
        val = t[off + 8 : off + 12]
        if tag == 0x0112 and typ == 3 and count == 1:
            (orientation,) = struct.unpack(bo + "H", val[:2])
        elif tag == 0x011A and typ == 5 and count == 1:
            (roff,) = struct.unpack(bo + "I", val)
            if roff + 8 > len(t):
                raise ValueError("RATIONAL offset out of range")
            num, den = struct.unpack(bo + "II", t[roff : roff + 8])
            if den == 0:
                raise ValueError("zero-denominator RATIONAL")
            xres = num / den
        elif tag == 0x010F and typ == 2:
            if count <= 4:
                raw = val[:count]
            else:
                (soff,) = struct.unpack(bo + "I", val)
                if soff + count > len(t):
                    raise ValueError("ASCII offset out of range")
                raw = t[soff : soff + count]
            make = raw.split(b"\x00", 1)[0].decode("ascii")
    if orientation is None or xres is None or make is None:
        raise ValueError("IFD0 missing Make/Orientation/XResolution")
    return bo_name, orientation, xres, make, n_entries


EXIF_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("byte_order", StringType()),
        StructField("orientation", IntegerType()),
        StructField("xres", DoubleType()),
        StructField("make", StringType()),
        StructField("n_entries", IntegerType()),
    ]
)


def _jpeg_exif_encode_row(media_id, make):
    # a flat 8x8 grayscale JPEG whose APP1 follows the SOI
    jpeg = encode_jpeg_gray(8, 8, bytes([media_id % 95 + 32]))
    app1 = build_exif_app1(
        1 + media_id % 8,
        72 + (media_id % 4) * 72,
        str(make),
        big_endian=media_id % 2 == 1,
    )
    return [(media_id, jpeg[:2] + app1 + jpeg[2:])]


def jpeg_exif_encode(df: DataFrame) -> DataFrame:
    """Arrow-batched Exif-carrying JPEG encode: each input row
    (``media_id``, ``make``) becomes a REAL minimal JPEG — SOI, a genuine
    Exif APP1 (``build_exif_app1``; byte order alternates II/MM by
    media_id parity so BOTH endianness paths are exercised at every
    scale), then one flat 8x8 grayscale block (``encode_jpeg_gray``) and
    EOI. Orientation = 1 + id%8, XResolution = 72 + (id%4)*72 — the
    deterministic fixture contract the oracle restates."""
    return arrow_map(
        df.select("media_id", "make"), _jpeg_exif_encode_row, PNG_PAYLOAD_SCHEMA
    )


def _jpeg_exif_stats_row(media_id, payload):
    return [(media_id, *parse_exif(bytes(payload)))]


def jpeg_exif_stats(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL Exif parse (``parse_exif``): marker walk to
    APP1, TIFF header validation, IFD0 walk extracting Make, Orientation
    and XResolution under EITHER endianness."""
    return arrow_map(
        df.select("media_id", "payload"), _jpeg_exif_stats_row, EXIF_STATS_SCHEMA
    )


CQL_VECTOR_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("n_dims", IntegerType()),
        StructField("n_bytes", IntegerType()),
        StructField("first_r", DoubleType()),
        StructField("last_r", DoubleType()),
        StructField("min_r", DoubleType()),
        StructField("max_r", DoubleType()),
    ]
)


def encode_cql_vector(values) -> bytes:
    """CQL ``vector<float, n>`` wire serialization (Cassandra 5 / protocol
    v5, the type CDM 6 migrates for vector-search tables): each element is
    one IEEE-754 binary32 in network byte order, concatenated — no length
    prefix (the dimension is fixed by the column type). Pure stdlib."""
    return struct.pack(f">{len(values)}f", *values)


def decode_cql_vector(payload: bytes) -> list[float]:
    """Inverse of encode_cql_vector; ValueError on a buffer that is not a
    whole number of 4-byte floats (a truncated wire value must fail
    loudly, never decode to a shorter vector)."""
    if len(payload) % 4:
        raise ValueError(
            f"CQL vector payload is {len(payload)} bytes, not a multiple of 4"
        )
    return list(struct.unpack(f">{len(payload) // 4}f", payload))


def _cql_vector_row(vec_id, embedding):
    a = np.asarray(embedding, dtype=np.float32)
    wire = encode_cql_vector(a.tolist())
    back = np.asarray(decode_cql_vector(wire), dtype=np.float32)
    if len(back) != len(a) or not np.array_equal(
        a.view(np.uint32), back.view(np.uint32)
    ):
        raise ValueError(f"CQL vector roundtrip corrupted vec_id={vec_id}")
    d = back.astype(np.float64)
    return [
        (
            vec_id, len(back), len(wire),
            float(d[0]), float(d[-1]), float(d.min()), float(d.max()),
        )
    ]


def cql_vector_roundtrip(df: DataFrame) -> DataFrame:
    """Arrow-batched CQL-vector codec: each row's ``embedding``
    (array<float>) is serialized to the wire format (``encode_cql_vector``),
    decoded back (``decode_cql_vector``), VERIFIED bit-identical in-kernel
    (a codec that corrupts any element aborts the job), and summarized by
    order-independent exact observables (dims, wire bytes, first/last/
    min/max as float64 of the float32 values — binary32→binary64 widening
    is exact, so the oracle recomputes the identical doubles from the raw
    column with no accumulation-order risk)."""
    return arrow_map(
        df.select("vec_id", "embedding"), _cql_vector_row, CQL_VECTOR_SCHEMA
    )


def decode_image(payload: bytes) -> object:
    """Image decode dispatch: binary PPM, 8-bit truecolor PNG, and
    baseline JPEG decode for real (decode_ppm / decode_png / decode_jpeg
    — no PIL; grayscale AND color at sampling factors 1–2, i.e. 4:4:4 /
    4:2:2 / 4:4:0 / 4:2:0, plus grayscale progressive); color progressive
    JPEG and sampling factors 3/4 stay honestly unimplemented."""
    if payload and payload.startswith(b"P6"):
        return decode_ppm(payload)
    if payload and payload.startswith(PNG_SIGNATURE):
        return decode_png(payload)
    if payload and payload.startswith(b"\xff\xd8"):
        return decode_jpeg(payload)
    raise NotImplementedError(
        "PPM, PNG, and baseline grayscale JPEG decode without PIL; "
        "other formats unavailable in this env"
    )


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for decode→embed: byte-histogram moments."""
    if not payload:
        return [0.0] * dim
    acc = [0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] += b
    total = float(len(payload))
    return [a / total for a in acc]


def attach_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Metadata derivation stays JVM-side: no payload bytes enter Python."""
    return df.withColumn("n_bytes", F.octet_length(F.col(payload_col)).cast("bigint"))


def filter_by_mime(df: DataFrame, mimes: list[str]) -> DataFrame:
    return df.filter(F.col("mime").isin(mimes))


def _feature_row(media_id, mime, payload, *, dim, use_fake):
    raw = bytes(payload) if payload is not None else b""
    if use_fake:
        vec = _fake_feature(raw, dim)
    elif raw.startswith(b"P6"):
        # geometry + per-channel means, padded/truncated to dim
        w, h, maxval, px = decode_ppm(raw)
        n_pix = w * h
        vec = [
            float(w), float(h), float(maxval), float(n_pix),
            *(s / n_pix for s in _channel_sums(px)),
        ]
        vec = (vec + [0.0] * dim)[:dim]
    else:
        raise NotImplementedError(
            "compressed-image decoding requires PIL; "
            "not available in this env (binary PPM decodes for real)"
        )
    digest = hashlib.md5(str([round(x, 6) for x in vec]).encode()).hexdigest()
    return [(media_id, mime, dim, digest)]


def extract_features(df: DataFrame, dim: int = 8, use_fake: bool = False) -> DataFrame:
    """Arrow-batched feature extraction; output conforms to FEATURE_SCHEMA.
    The real path decodes binary PPM (P6) payloads and emits geometry +
    per-channel-mean features (exact integer sums divided once at the
    end); compressed formats still require PIL, absent here, and raise
    NotImplementedError honestly."""
    return arrow_map(
        df.select("media_id", "mime", "payload"),
        functools.partial(_feature_row, dim=dim, use_fake=use_fake),
        FEATURE_SCHEMA,
    )


DIGEST_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
    ]
)


def _digest_row(media_id, mime, payload):
    raw = bytes(payload) if payload is not None else b""
    return [(media_id, mime, len(raw), hashlib.md5(raw).hexdigest())]


def payload_digest(df: DataFrame) -> DataFrame:
    """Arrow-batched payload digestion — the oracle-checkable half of the
    multimodal path: per-payload byte length and md5, computed in Python
    from the raw bytes the JVM handed over. Because both outputs are
    exactly reproducible in ANSI SQL (octet_length / md5), the driver's
    DuckDB check verifies the Arrow binary round-trip BYTE-FOR-BYTE — if
    batching, encoding, or null handling corrupted a single payload byte
    the hashes would diverge."""
    return arrow_map(
        df.select("media_id", "mime", "payload"), _digest_row, DIGEST_SCHEMA
    )


PPM_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("maxval", IntegerType()),
        StructField("n_pix", LongType()),
        StructField("r_sum", LongType()),
        StructField("g_sum", LongType()),
        StructField("b_sum", LongType()),
    ]
)


def _channel_sums(rgb: bytes) -> tuple[int, int, int]:
    return sum(rgb[0::3]), sum(rgb[1::3]), sum(rgb[2::3])


def _ppm_stats_row(media_id, payload):
    w, h, maxval, px = decode_ppm(bytes(payload))
    return [(media_id, w, h, maxval, w * h, *_channel_sums(px))]


def ppm_stats(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL image decode (``decode_ppm``): exact integer
    stats per payload (dimensions, per-channel byte sums) — no floats in
    the kernel, so the output is bit-reproducible and a downstream JVM
    projection derives the rounded channel means."""
    return arrow_map(
        df.select("media_id", "payload"), _ppm_stats_row, PPM_STATS_SCHEMA
    )


PPM_DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("dhash", LongType()),
        StructField("n_bits", IntegerType()),
    ]
)


def _ppm_dhash_row(media_id, payload):
    w, h, _, px = decode_ppm(bytes(payload))
    if h * (w - 1) > 62:
        raise ValueError(f"dhash needs h*(w-1) <= 62 bits, got {h * (w - 1)}")
    digest, bit = 0, 0
    for r in range(h):
        row = r * w * 3
        for c in range(w - 1):
            o = row + c * 3
            g1 = (px[o] + px[o + 1] + px[o + 2]) // 3
            g2 = (px[o + 3] + px[o + 4] + px[o + 5]) // 3
            if g1 > g2:
                digest |= 1 << bit
            bit += 1
    return [(media_id, w, h, digest, bit)]


def ppm_dhash(df: DataFrame) -> DataFrame:
    """Arrow-batched PERCEPTUAL hash (difference hash) over decoded PPM
    pixels — the image near-dup primitive (dHash: Kravetz's gradient hash;
    resized-crop/re-encode copies of an image keep their horizontal
    gradient signs, so equal hashes bucket perceptual duplicates the way
    MinHash bands bucket shingled text). Per pixel: integer grayscale
    (r+g+b)//3; per row: one bit per adjacent-column pair, set when
    gray[c] > gray[c+1]; bits pack row-major into one BIGINT (fixture
    images are W=4 so a row yields 3 bits and hashes stay well under 63
    bits — a production W follows the classic 9x8 crop). Integer-only,
    so bit-reproducible."""
    return arrow_map(
        df.select("media_id", "payload"), _ppm_dhash_row, PPM_DHASH_SCHEMA
    )


PNG_PAYLOAD_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)

PNG_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("depth", IntegerType()),
        StructField("n_pix", LongType()),
        StructField("r_sum", LongType()),
        StructField("g_sum", LongType()),
        StructField("b_sum", LongType()),
    ]
)


def _grid_encode_row(media_id, data, *, encode, per_row, cell_bytes, cell_px, what):
    """Encode one payload from a row-major grid: ``per_row`` cells of
    ``cell_bytes`` bytes each per grid row, every cell ``cell_px`` pixels
    square; ``encode(width, height, data)`` does the real work."""
    data = bytes(data)
    row_bytes = per_row * cell_bytes
    if not data or len(data) % row_bytes:
        raise ValueError(
            f"{what} section is {len(data)} bytes, not a multiple of {row_bytes}"
        )
    n_rows = len(data) // row_bytes
    return [(media_id, encode(per_row * cell_px, n_rows * cell_px, data))]


def _grid_encode(df: DataFrame, col: str, encode, per_row: int, cell_bytes: int,
                 cell_px: int, what: str) -> DataFrame:
    return arrow_map(
        df.select("media_id", col),
        functools.partial(
            _grid_encode_row, encode=encode, per_row=per_row,
            cell_bytes=cell_bytes, cell_px=cell_px, what=what,
        ),
        PNG_PAYLOAD_SCHEMA,
    )


def png_encode_rgb(df: DataFrame, width: int) -> DataFrame:
    """Arrow-batched REAL PNG encode (``encode_png``): each input row
    carries raw interleaved RGB bytes (``rgb`` column, length a multiple
    of width*3), deflated into a spec-complete 8-bit truecolor PNG —
    signature, CRC'd IHDR, filter-cycled scanlines (row % 5 → all five
    filter types), two IDAT chunks, IEND."""
    return _grid_encode(df, "rgb", encode_png, width, 3, 1, "RGB")


def _png_stats_row(media_id, payload):
    w, h, depth, px = decode_png(bytes(payload))
    return [(media_id, w, h, depth, w * h, *_channel_sums(px))]


def png_stats(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL PNG decode (``decode_png``): zlib-inflate each
    payload's IDAT stream, verify every chunk CRC, reconstruct ALL FIVE
    scanline filter types, and emit exact integer stats — no floats in
    the kernel, so the output is bit-reproducible and a downstream JVM
    projection derives rounded channel means."""
    return arrow_map(
        df.select("media_id", "payload"), _png_stats_row, PNG_STATS_SCHEMA
    )


JPEG_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pix", LongType()),
        StructField("px_sum", LongType()),
        StructField("px_min", IntegerType()),
        StructField("px_max", IntegerType()),
    ]
)


def jpeg_encode_gray(
    df: DataFrame, block_width: int, restart_interval: int = 0
) -> DataFrame:
    """Arrow-batched flat-block JPEG encode (``encode_jpeg_gray``): each
    input row carries the per-block gray levels (``blocks`` binary column,
    one byte per 8x8 block, ``block_width`` blocks per row) through the
    full baseline pipeline. ``restart_interval`` > 0 encodes with
    ``encode_jpeg_gray_rst``: a DRI segment and RST0..RST7 markers every
    that-many MCUs with the DC predictor re-anchored."""
    encode = (
        functools.partial(encode_jpeg_gray_rst, restart_interval=restart_interval)
        if restart_interval
        else encode_jpeg_gray
    )
    return _grid_encode(df, "blocks", encode, block_width, 1, 8, "block")


def jpeg_encode_gray_progressive(df: DataFrame, block_width: int) -> DataFrame:
    """Arrow-batched flat-block PROGRESSIVE (SOF2) JPEG encode: the
    five-scan layout of ``encode_jpeg_gray_progressive`` (DC first at
    Al=1, two spectral-selection AC EOBRUN scans, AC refinement, raw-bit
    DC refinement) over the same ``blocks`` column as jpeg_encode_gray."""
    return _grid_encode(
        df, "blocks", encode_jpeg_gray_progressive, block_width, 1, 8, "block"
    )


def _jpeg_stats_row(media_id, payload):
    w, h, nc, px = decode_jpeg(bytes(payload))
    if nc != 1:
        raise ValueError("jpeg_stats expects a single-component (grayscale) JPEG")
    return [(media_id, w, h, w * h, sum(px), min(px), max(px))]


def jpeg_stats(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL grayscale JPEG decode (``decode_jpeg``, baseline
    or progressive): full marker walk, huffman DC/AC decode with
    byte-unstuffing, dequant, zigzag, float IDCT, level shift — exact
    integer pixel stats out."""
    return arrow_map(
        df.select("media_id", "payload"), _jpeg_stats_row, JPEG_STATS_SCHEMA
    )


JPEG_COLOR_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pix", LongType()),
        StructField("r_sum", LongType()),
        StructField("g_sum", LongType()),
        StructField("b_sum", LongType()),
        StructField("rgb_min", IntegerType()),
        StructField("rgb_max", IntegerType()),
    ]
)


def jpeg_encode_color(df: DataFrame, block_width: int) -> DataFrame:
    """Arrow-batched flat-block 4:4:4 COLOR JPEG encode
    (``encode_jpeg_color``): each input row carries per-block (Y, Cb, Cr)
    levels (``blocks`` binary column, THREE bytes per 8x8 block,
    ``block_width`` blocks per row)."""
    return _grid_encode(
        df, "blocks", encode_jpeg_color, block_width, 3, 8, "color block"
    )


def jpeg_encode_color_420(df: DataFrame, mcu_width: int) -> DataFrame:
    """Arrow-batched flat-MCU 4:2:0 COLOR JPEG encode
    (``encode_jpeg_color_420``): each input row carries per-MCU (Y, Cb,
    Cr) levels (``mcus`` binary column, THREE bytes per 16x16 MCU,
    ``mcu_width`` MCUs per row)."""
    return _grid_encode(
        df, "mcus", encode_jpeg_color_420, mcu_width, 3, 16, "4:2:0 MCU"
    )


def _jpeg_color_stats_row(media_id, payload):
    w, h, nc, rgb = decode_jpeg(bytes(payload))
    if nc != 3:
        raise ValueError("jpeg_color_stats expects 3-component JPEG")
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
    r_sum, g_sum, b_sum = (int(v) for v in px.sum(axis=0, dtype=np.int64))
    return [(media_id, w, h, w * h, r_sum, g_sum, b_sum, int(px.min()), int(px.max()))]


def jpeg_color_stats(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL 3-component baseline-JPEG decode
    (``decode_jpeg``): sampling factors 1–2 (4:4:4 / 4:2:2 / 4:4:0 /
    4:2:0), replication chroma upsampling, then the JFIF YCbCr→RGB
    conversion with floor(x+0.5) rounding (the one rounding an ANSI-SQL
    oracle restates exactly) — exact integer channel stats out."""
    return arrow_map(
        df.select("media_id", "payload"),
        _jpeg_color_stats_row,
        JPEG_COLOR_STATS_SCHEMA,
    )


WAV_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("s_sum", LongType()),
        StructField("s_min", IntegerType()),
        StructField("s_max", IntegerType()),
    ]
)


def _wav_stats_row(media_id, payload):
    channels, rate, bits, data = decode_wav(bytes(payload))
    # 8-bit PCM is unsigned bytes; 16-bit is signed little-endian
    samples = data if bits == 8 else struct.unpack(f"<{len(data) // 2}h", data)
    return [
        (
            media_id, channels, rate, bits, len(samples), sum(samples),
            min(samples) if samples else 0, max(samples) if samples else 0,
        )
    ]


def wav_stats(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL audio decode (``decode_wav``): exact integer
    sample stats per WAV payload (8-bit unsigned / 16-bit signed LE) — no
    floats in the kernel."""
    return arrow_map(
        df.select("media_id", "payload"), _wav_stats_row, WAV_STATS_SCHEMA
    )


PPM_RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("in_w", IntegerType()),
        StructField("in_h", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("r_sum", LongType()),
        StructField("g_sum", LongType()),
        StructField("b_sum", LongType()),
        StructField("px_min", IntegerType()),
        StructField("px_max", IntegerType()),
    ]
)


def _ppm_resize_row(media_id, payload, *, factor):
    w, h, _, pixels = decode_ppm(bytes(payload))
    w2, h2 = w // factor, h // factor
    if w2 < 1 or h2 < 1:
        raise ValueError(f"{w}x{h} image smaller than the {factor}x{factor} block")
    area = factor * factor
    ch_sums = [0, 0, 0]
    pmin, pmax = 255, 0
    for orow in range(h2):
        for ocol in range(w2):
            for ch in range(3):
                s = 0
                for dy in range(factor):
                    row = (orow * factor + dy) * w
                    for dx in range(factor):
                        s += pixels[(row + ocol * factor + dx) * 3 + ch]
                v = s // area
                ch_sums[ch] += v
                if v < pmin:
                    pmin = v
                if v > pmax:
                    pmax = v
    return [(media_id, w, h, w2, h2, *ch_sums, pmin, pmax)]


def ppm_resize_stats(df: DataFrame, factor: int = 2) -> DataFrame:
    """Arrow-batched REAL image RESIZE: PPM-decode each payload, box-filter
    downsample by ``factor`` (each output channel value = floor mean of
    its factor×factor input block; rows/cols beyond the last whole block
    are cropped, the standard pooling convention), and emit exact integer
    stats of the RESIZED image — all integer arithmetic so both engines
    agree to the last bit. Raises on any payload smaller than one block —
    a resize that silently emits an empty image hides upstream
    corruption."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    return arrow_map(
        df.select("media_id", "payload"),
        functools.partial(_ppm_resize_row, factor=factor),
        PPM_RESIZE_SCHEMA,
    )


Y4M_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("px_sum", LongType()),
        StructField("px_min", IntegerType()),
        StructField("px_max", IntegerType()),
        StructField("samp_frames", IntegerType()),
        StructField("samp_sum", LongType()),
    ]
)


def _y4m_stats_row(media_id, payload, *, sample_every):
    w, h, n_frames, planes = decode_y4m(bytes(payload))
    fb = w * h
    sampled = range(0, n_frames, sample_every)
    samp_sum = sum(sum(planes[k * fb : (k + 1) * fb]) for k in sampled)
    return [
        (
            media_id, w, h, n_frames, sum(planes), min(planes), max(planes),
            len(sampled), samp_sum,
        )
    ]


def y4m_stats(df: DataFrame, sample_every: int = 2) -> DataFrame:
    """Arrow-batched REAL video decode (``decode_y4m``): exact integer
    pixel stats over ALL frames of each Y4M mono payload plus the
    every-``sample_every``-th-frame subset — in-payload frame sampling,
    the semantics ``sample_frames`` (a row-level index filter) cannot
    express because the frames live INSIDE one binary payload. No floats
    in the kernel."""
    if sample_every < 1:
        raise ValueError("sample_every must be >= 1")
    return arrow_map(
        df.select("media_id", "payload"),
        functools.partial(_y4m_stats_row, sample_every=sample_every),
        Y4M_STATS_SCHEMA,
    )


def sample_frames(df: DataFrame, every_nth: int, frame_col: str = "media_id") -> DataFrame:
    """Deterministic frame sampling by index — a pure JVM filter, the payload
    column is untouched (columnar pruning keeps it out of the scan if the
    downstream projection drops it)."""
    return df.filter((F.col(frame_col) % every_nth) == 0)
