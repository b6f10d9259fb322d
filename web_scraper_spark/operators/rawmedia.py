"""REAL pixel + frame-structure decode for codec-free image formats.

Companion to ``operators/audio.py`` (real WAV/PCM decode): three more
modalities where the published container layout plus the standard
library alone are a complete decoder:

- **BMP (Windows DIB, BI_RGB)** — uncompressed 24/32-bit pixels are raw
  bytes behind a fixed header: ``parse_bmp`` + ``decode_bmp_pixels``
  recover the full pixel array (bottom-up row order, 4-byte row
  padding), and ``decode_bmp_features`` emits dimensions + integer-
  exact per-channel means. This is real PIXEL decode, no stand-in.
- **PNG (8-bit, non-interlaced)** — the "codec" is zlib (stdlib) plus
  the five published scanline filters (None/Sub/Up/Average/Paeth,
  PNG spec §9): ``decode_png_pixels`` walks the chunk stream,
  inflates the concatenated IDAT payload, and inverts the per-row
  filters to recover the exact pixel array for greyscale, grey+alpha,
  truecolor, and truecolor+alpha. Real full decode, no media library.
- **GIF (87a/89a)** — two tiers. The FRAME STRUCTURE is
  length-prefixed and walkable without decoding: ``gif_frames``
  enumerates every image descriptor (position, size) with its Graphic
  Control Extension delay/disposal — the real frame-sampling index a
  video-adjacent pipeline needs — and ``gif_frame_index`` exposes it
  as a Spark stage. And the pixels themselves: GIF's only codec is
  LZW, a fully published algorithm (spec appendix F), so
  ``gif_decode_pixels`` is a REAL full decode — variable-width
  LSB-first LZW, color-table mapping, 4-pass deinterlacing — with an
  ``_lzw_encode`` twin so round-trips exercise table growth and reset.

Both stages are single Arrow ``mapInPandas`` passes on the scan layout:
payload bytes never shuffle, outputs are narrow typed rows. Malformed
payloads yield null/empty, never a stage failure. Deterministic synths
(``synth_bmp`` / ``synth_gif``) are the byte-level inverses used by the
DuckDB oracles, which replay the same integer formulas without ever
seeing a container.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

__all__ = [
    "synth_bmp",
    "parse_bmp",
    "decode_bmp_pixels",
    "decode_bmp_features",
    "synth_png",
    "parse_png",
    "decode_png_pixels",
    "decode_png_features",
    "synth_gif",
    "gif_frames",
    "gif_frame_index",
    "synth_gif_pixels",
    "gif_decode_pixels",
    "decode_gif_features",
]

# shared with operators/audio.py and the battery oracles
_MULT = 2654435761
_STRIDE = 40503


# ---------------------------------------------------------------------------
# BMP — real pixel decode (BI_RGB 24/32-bit)
# ---------------------------------------------------------------------------


def _bmp_stride(width: int, bpp: int) -> int:
    return ((width * (bpp // 8)) + 3) // 4 * 4


def synth_bmp(doc_id: int, width: int, height: int, bpp: int = 24) -> bytes:
    """A valid bottom-up BI_RGB BMP whose ENTIRE pixel array (padding
    included) is ``byte[j] = (doc_id*2654435761 + j*40503) % 256`` over
    the linear array offset j — replayable in pure integer SQL."""
    stride = _bmp_stride(width, bpp)
    n = stride * height
    j = np.arange(n, dtype=np.int64)
    pixels = ((doc_id * _MULT + j * _STRIDE) % 256).astype(np.uint8).tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, 0, n, 2835, 2835, 0, 0
    )
    off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", off + n, 0, 0, off)
    return header + info + pixels


def parse_bmp(data: bytes):
    """-> (width, height, bpp, top_down, pixel_offset, stride) or None.

    BITMAPFILEHEADER ('BM', pixel offset at byte 10) +
    BITMAPINFOHEADER (size>=40; negative height = top-down rows).
    Only uncompressed BI_RGB 24/32-bit — the layouts that ARE raw
    pixels. Everything else is honestly not decodable here.
    """
    if len(data) < 54 or data[:2] != b"BM":
        return None
    pixel_off = int.from_bytes(data[10:14], "little")
    hdr_size = int.from_bytes(data[14:18], "little")
    if hdr_size < 40:
        return None
    width = int.from_bytes(data[18:22], "little", signed=True)
    height = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    compression = int.from_bytes(data[30:34], "little")
    if compression != 0 or bpp not in (24, 32) or width <= 0 or height == 0:
        return None
    top_down = height < 0
    height = abs(height)
    stride = _bmp_stride(width, bpp)
    if pixel_off + stride * height > len(data):
        return None
    return width, height, bpp, top_down, pixel_off, stride


def decode_bmp_pixels(data: bytes):
    """-> uint8 array of shape (height, width, channels) in BGR(A)
    order with rows in TOP-DOWN display order, or None."""
    hdr = parse_bmp(data)
    if hdr is None:
        return None
    width, height, bpp, top_down, off, stride = hdr
    ch = bpp // 8
    raw = np.frombuffer(data, dtype=np.uint8, count=stride * height, offset=off)
    rows = raw.reshape(height, stride)[:, : width * ch].reshape(height, width, ch)
    return rows if top_down else rows[::-1]


_BMP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("bpp", IntegerType(), True),
        StructField("mean_b", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_a", DoubleType(), True),
    ]
)


def decode_bmp_features(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """Real pixel statistics: dimensions + per-channel means with
    integer-exact sums (bit-identical to the SQL oracle's replay)."""

    def row(doc_id: int, v) -> dict:
        null = dict.fromkeys(
            ("width", "height", "bpp", "mean_b", "mean_g", "mean_r", "mean_a")
        )
        null["doc_id"] = doc_id
        if v is None:
            return null
        px = decode_bmp_pixels(bytes(v))
        if px is None:
            return null
        h, w, ch = px.shape
        n = h * w
        sums = px.reshape(n, ch).astype(np.int64).sum(axis=0)
        out = {
            "doc_id": doc_id,
            "width": w,
            "height": h,
            "bpp": ch * 8,
            "mean_b": int(sums[0]) / n,
            "mean_g": int(sums[1]) / n,
            "mean_r": int(sums[2]) / n,
            "mean_a": int(sums[3]) / n if ch == 4 else None,
        }
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame.from_records(
                [row(int(d), v) for d, v in zip(b[id_col], b[data_col])],
                columns=[f.name for f in _BMP_SCHEMA.fields],
            )

    return df.mapInPandas(run, schema=_BMP_SCHEMA)


# ---------------------------------------------------------------------------
# PNG — real full pixel decode (8-bit, non-interlaced; zlib + spec §9
# filters, no media library)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> channel count (8-bit, no palette: indexed needs PLTE
# semantics we honestly don't model)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body))
    )


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (PNG spec §9.4) over recon arrays."""
    ai, bi, ci = (x.astype(np.int32) for x in (a, b, c))
    p = ai + bi - ci
    pa, pb, pc = np.abs(p - ai), np.abs(p - bi), np.abs(p - ci)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_filter_row(
    ft: int, line: np.ndarray, prev: np.ndarray, ch: int
) -> np.ndarray:
    """Forward-apply filter ``ft`` to a recon row (synth side). All five
    predictors vectorize forward because every recon value is known."""
    if ft == 0:
        return line
    left = np.zeros_like(line)
    left[ch:] = line[:-ch]
    if ft == 1:
        return line - left
    if ft == 2:
        return line - prev
    if ft == 3:
        return line - (
            (left.astype(np.int32) + prev.astype(np.int32)) // 2
        ).astype(np.uint8)
    ul = np.zeros_like(prev)
    ul[ch:] = prev[:-ch]
    return line - _paeth_vec(left, prev, ul).astype(np.uint8)


def synth_png(doc_id: int, width: int, height: int, channels: int = 3) -> bytes:
    """A valid non-interlaced 8-bit PNG whose UNFILTERED pixel array is
    ``byte[j] = (doc_id*2654435761 + j*40503) % 256`` over the linear
    pixel offset ``j = (row*width + col)*channels + k`` — replayable in
    pure integer SQL. Row ``r`` is stored with REAL filter type
    ``(doc_id + r) % 5``, so a decoder only recovers the formula bytes
    by correctly inverting Sub/Up/Average/Paeth. The IDAT stream is
    split into two chunks to exercise concatenation."""
    ch = channels
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    stride = width * ch
    j = np.arange(height * stride, dtype=np.int64)
    px = ((doc_id * _MULT + j * _STRIDE) % 256).astype(np.uint8)
    px = px.reshape(height, stride)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(height):
        ft = (doc_id + r) % 5
        raw.append(ft)
        raw += _png_filter_row(ft, px[r], prev, ch).tobytes()
        prev = px[r]
    comp = zlib.compress(bytes(raw), 6)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    half = max(1, len(comp) // 2)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", comp[:half])
        + _png_chunk(b"IDAT", comp[half:])
        + _png_chunk(b"IEND", b"")
    )


def parse_png(data: bytes):
    """-> (width, height, bit_depth, color_type, channels, idat_bytes)
    or None. Walks the length-prefixed chunk stream, verifying each
    CRC; accepts what the decoder below can honestly decode: bit depth
    8, color types 0/2/4/6, interlace 0. Like ``gif_frames`` it
    tolerates a truncated trailer — a complete IDAT stream decodes even
    when IEND is cut off; truncation or corruption inside any chunk
    returns None."""
    n = len(data)
    if n < 8 + 25 or data[:8] != _PNG_SIG:
        return None
    pos = 8
    hdr = None
    idat = bytearray()
    while pos + 8 <= n:
        length = int.from_bytes(data[pos : pos + 4], "big")
        tag = data[pos + 4 : pos + 8]
        body_end = pos + 8 + length
        if body_end + 4 > n:
            return None  # truncated chunk
        body = data[pos + 8 : body_end]
        crc = int.from_bytes(data[body_end : body_end + 4], "big")
        if zlib.crc32(tag + body) != crc:
            return None
        if tag == b"IHDR":
            if pos != 8 or length != 13:
                return None
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (
                depth != 8
                or color not in _PNG_CHANNELS
                or comp != 0
                or filt != 0
                or interlace != 0
                or w == 0
                or h == 0
            ):
                return None
            hdr = (w, h, depth, color)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos = body_end + 4
    if hdr is None or not idat:
        return None
    w, h, depth, color = hdr
    return w, h, depth, color, _PNG_CHANNELS[color], bytes(idat)


def decode_png_pixels(data: bytes):
    """-> uint8 array of shape (height, width, channels) in the spec's
    channel order (R,G,B[,A] / grey[,A]), or None. Inflates IDAT and
    inverts the per-row filter (spec §9): Sub is a per-lane cumulative
    sum, Up a vector add; Average and Paeth carry a true sequential
    data dependency along x (as in every conforming decoder) and run
    per-byte within the row."""
    hdr = parse_png(data)
    if hdr is None:
        return None
    w, h, _depth, _color, ch, idat = hdr
    stride = w * ch
    # a conforming image inflates to exactly h*(1+stride) bytes; cap the
    # inflation at that +1 so a crafted IDAT decompression bomb (~1000x
    # expansion) can't balloon into memory before the length check
    expected = h * (1 + stride)
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(idat, expected + 1)
    except zlib.error:
        return None
    if len(raw) != expected or dec.unconsumed_tail:
        return None
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for r in range(h):
        ft = raw[pos]
        pos += 1
        line = np.frombuffer(raw, np.uint8, stride, pos)
        pos += stride
        if ft == 0:
            rec = line.copy()
        elif ft == 1:  # Sub: cumulative sum within each byte lane
            rec = (
                line.reshape(w, ch)
                .astype(np.int64)
                .cumsum(axis=0)
                .astype(np.uint8)
                .reshape(stride)
            )
        elif ft == 2:  # Up: uint8 add wraps mod 256
            rec = line + prev
        elif ft == 3:  # Average
            rec = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - ch]) if x >= ch else 0
                rec[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            rec = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(rec[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[x] = (int(line[x]) + pr) & 0xFF
        else:
            return None
        out[r] = rec
        prev = rec
    return out.reshape(h, w, ch)


_PNG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("mean_c0", DoubleType(), True),
        StructField("mean_c1", DoubleType(), True),
        StructField("mean_c2", DoubleType(), True),
        StructField("mean_c3", DoubleType(), True),
    ]
)


def decode_png_features(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """Real PNG pixel statistics: dimensions + per-channel means with
    integer-exact sums, channels in storage order (c0=R/grey)."""

    def row(doc_id: int, v) -> dict:
        null = dict.fromkeys(
            ("width", "height", "channels", "mean_c0", "mean_c1", "mean_c2", "mean_c3")
        )
        null["doc_id"] = doc_id
        if v is None:
            return null
        px = decode_png_pixels(bytes(v))
        if px is None:
            return null
        h, w, ch = px.shape
        n = h * w
        sums = px.reshape(n, ch).astype(np.int64).sum(axis=0)
        out = {
            "doc_id": doc_id,
            "width": w,
            "height": h,
            "channels": ch,
            "mean_c0": None,
            "mean_c1": None,
            "mean_c2": None,
            "mean_c3": None,
        }
        for k in range(ch):
            out[f"mean_c{k}"] = int(sums[k]) / n
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame.from_records(
                [row(int(d), v) for d, v in zip(b[id_col], b[data_col])],
                columns=[f.name for f in _PNG_SCHEMA.fields],
            )

    return df.mapInPandas(run, schema=_PNG_SCHEMA)


def with_synth_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: PNG payload with geometry
    ``w = 9 + id%14, h = 5 + id%11, channels = 1 + id%4`` (covers
    grey, grey+alpha, RGB, RGBA and, via h>=5, all five filters)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [
                synth_png(
                    int(i), 9 + int(i) % 14, 5 + int(i) % 11, 1 + int(i) % 4
                )
                for i in ids
            ]
        )

    return df.withColumn("data", _synth(F.col(id_col)))


# ---------------------------------------------------------------------------
# GIF — real frame-structure walk (no LZW decode needed or claimed)
# ---------------------------------------------------------------------------


def synth_gif(doc_id: int, n_frames: int) -> bytes:
    """A structurally valid GIF89a with ``n_frames`` image descriptors.

    Geometry/delays are pure functions of ``(doc_id, frame)`` — the
    oracle formulas:
        w = 4 + (doc_id + f) % 9,  h = 3 + (doc_id * 3 + f) % 7,
        x = f % 5,                 y = (f * 2) % 5,
        delay_cs = 3 + (doc_id * 7 + f) % 12
    Pixel sub-blocks carry deterministic filler bytes (the walker skips
    them by their length prefixes exactly as it would real LZW data).
    """
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", 20, 20) + bytes([0x00, 0, 0])  # LSD, no GCT
    for f in range(n_frames):
        w = 4 + (doc_id + f) % 9
        h = 3 + (doc_id * 3 + f) % 7
        x, y = f % 5, (f * 2) % 5
        delay = 3 + (doc_id * 7 + f) % 12
        # Graphic Control Extension
        out += bytes([0x21, 0xF9, 4, 0x04]) + struct.pack("<H", delay) + b"\x00\x00"
        # image descriptor, no local color table
        out += b"\x2c" + struct.pack("<HHHH", x, y, w, h) + b"\x00"
        # LZW min code size + one filler sub-block + terminator
        filler = bytes(((doc_id + f + k) % 256 for k in range(5)))
        out += bytes([2, len(filler)]) + filler + b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_frames(data: bytes, with_offsets: bool = False):
    """Walk the GIF block structure -> [(frame_idx, x, y, w, h,
    delay_cs)] without decoding pixel data, or None when the payload is
    not a GIF. Tolerates missing trailers (truncated files stop at the
    last complete block) — comment/application/plain-text extensions
    are skipped by their sub-block length prefixes. With
    ``with_offsets=True`` each tuple gains ``(byte_offset, byte_len)``
    of the frame's extent in the container (image descriptor through
    block terminator) — the real frame-sampling byte index.
    """
    n = len(data)
    if n < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    pos = 10
    packed = data[pos]
    pos += 3  # packed, bg color, aspect
    if packed & 0x80:  # global color table
        pos += 3 * (2 << (packed & 0x7))
    frames = []
    delay = 0
    while pos < n:
        b0 = data[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            if pos + 2 > n:
                break
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and pos + 6 <= n and data[pos] == 4:
                delay = int.from_bytes(data[pos + 2 : pos + 4], "little")
            while pos < n and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            if pos + 10 > n:
                break
            desc_at = pos
            x, y, w, h = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
            packed_i = data[pos + 9]
            pos += 10
            if packed_i & 0x80:  # local color table
                pos += 3 * (2 << (packed_i & 0x7))
            pos += 1  # LZW min code size
            while pos < n and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            rec = (len(frames), x, y, w, h, delay)
            if with_offsets:
                rec += (desc_at, min(pos, n) - desc_at)
            frames.append(rec)
            delay = 0
        else:
            return frames or None  # lost block sync
    return frames


_GIF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("x", IntegerType(), False),
        StructField("y", IntegerType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("delay_cs", IntegerType(), False),
    ]
)


def gif_frame_index(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """Frame-sampling index over GIF payloads: one row per frame with
    position, size, and display delay. Undecodable payloads emit
    nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[data_col]):
                fr = gif_frames(bytes(v)) if v is not None else None
                for idx, x, y, w, h, delay in fr or ():
                    rows.append(
                        {
                            "doc_id": int(d),
                            "frame_idx": idx,
                            "x": x,
                            "y": y,
                            "w": w,
                            "h": h,
                            "delay_cs": delay,
                        }
                    )
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _GIF_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_GIF_SCHEMA)


def with_synth_bmp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: BMP payload with geometry
    ``w = 16 + id%17, h = 8 + id%13, bpp = 24 + 8*(id%2)``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [
                synth_bmp(
                    int(i), 16 + int(i) % 17, 8 + int(i) % 13, 24 + 8 * (int(i) % 2)
                )
                for i in ids
            ]
        )

    return df.withColumn("data", _synth(F.col(id_col)))


def with_synth_gif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: GIF payload with ``n_frames = 1 + id%5``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [synth_gif(int(i), 1 + int(i) % 5) for i in ids]
        )

    return df.withColumn("data", _synth(F.col(id_col)))


# ---------------------------------------------------------------------------
# GIF — real FULL pixel decode: LZW (published algorithm, pure Python)
# + palette mapping + deinterlacing. GIF needs no codec library either.
# ---------------------------------------------------------------------------


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """Real GIF-flavor LZW encoder (variable width, LSB-first): emits a
    clear code first, grows the string table to 4095 and resets with a
    clear code when full — so round-trips exercise the decoder's width
    growth and table reset paths, not just literals."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    put(clear, width)
    cur: tuple = ()
    for sym in indices:
        cand = cur + (int(sym),)
        if cand in table:
            cur = cand
            continue
        put(table[cur], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code > 4095:
            put(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        cur = (int(sym),)
    if cur:
        put(table[cur], width)
    put(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int):
    """GIF LZW decode (spec appendix F): LSB-first variable-width codes,
    KwKwK case, deferred-clear tolerance. -> list of indices or None."""
    if not 2 <= min_code_size <= 8:
        return None
    clear = 1 << min_code_size
    end = clear + 1
    base = [(i,) for i in range(clear)] + [None, None]
    table = list(base)
    width = min_code_size + 1
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    out: list[int] = []
    prev = None
    while True:
        while nbits < width:
            if pos >= n:
                return out  # truncated stream: keep what decoded
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if prev is None:
            if code >= len(table) or table[code] is None:
                return None
            entry = table[code]
        elif code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table):
            entry = prev + (prev[0],)  # KwKwK
        else:
            return None
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    """Undo GIF 4-pass interlacing: stored row k belongs at display row
    order[k], where order enumerates the four (start, step) passes."""
    h = rows.shape[0]
    order = [r for start, step in _INTERLACE_PASSES for r in range(start, h, step)]
    out = np.empty_like(rows)
    out[order] = rows
    return out


def gif_decode_pixels(data: bytes, frame: int = 0):
    """REAL full GIF decode of one frame -> uint8 (h, w, 3) RGB array,
    or None. Walks the block structure like ``gif_frames``, then LZW-
    decodes the target frame's sub-blocks, maps indices through the
    active (local-else-global) color table, and deinterlaces when the
    descriptor's interlace flag is set. Out-of-range indices or a
    short index stream -> None (honest refusal, never garbage)."""
    n = len(data)
    if n < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    pos = 10
    packed = data[pos]
    pos += 3
    gct = None
    if packed & 0x80:
        size = 2 << (packed & 0x7)
        if pos + 3 * size > n:
            return None
        gct = np.frombuffer(data, np.uint8, 3 * size, pos).reshape(size, 3)
        pos += 3 * size
    fidx = -1
    while pos < n:
        b0 = data[pos]
        if b0 == 0x3B:
            break
        if b0 == 0x21:
            pos += 2
            while pos < n and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b0 == 0x2C:
            if pos + 10 > n:
                return None
            _x, _y, w, h = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
            packed_i = data[pos + 9]
            pos += 10
            lct = None
            if packed_i & 0x80:
                size = 2 << (packed_i & 0x7)
                if pos + 3 * size > n:
                    return None
                lct = np.frombuffer(data, np.uint8, 3 * size, pos).reshape(size, 3)
                pos += 3 * size
            if pos >= n:
                return None
            mcs = data[pos]
            pos += 1
            blocks = bytearray()
            while pos < n and data[pos] != 0:
                ln = data[pos]
                blocks += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            fidx += 1
            if fidx != frame:
                continue
            palette = lct if lct is not None else gct
            if palette is None or w == 0 or h == 0:
                return None
            idx = _lzw_decode(bytes(blocks), mcs)
            if idx is None or len(idx) < w * h:
                return None
            arr = np.asarray(idx[: w * h], dtype=np.int32).reshape(h, w)
            if int(arr.max(initial=0)) >= len(palette):
                return None
            rows = palette[arr]  # (h, w, 3)
            if packed_i & 0x40:
                rows = _deinterlace(rows)
            return rows.astype(np.uint8)
        else:
            return None
    return None


# palette formulas shared with the battery oracle (pure integer SQL)
_PAL_R = (7, 3)
_PAL_G = (11, 5)
_PAL_B = (13, 9)


def synth_gif_pixels(doc_id: int, width: int, height: int) -> bytes:
    """A single-frame GIF89a whose 256-entry global color table is
    ``palette[i] = ((i*7+3)%256, (i*11+5)%256, (i*13+9)%256)`` and whose
    DISPLAY-ORDER pixel indices are ``index[j] = (doc_id*2654435761 +
    j*40503) % 256`` over ``j = row*width + col`` — both replayable in
    pure integer SQL. Pixel data is REAL LZW (encoder above); odd
    doc_ids store rows interlaced, so decode must also deinterlace."""
    interlaced = doc_id % 2 == 1
    j = np.arange(height * width, dtype=np.int64)
    idx = ((doc_id * _MULT + j * _STRIDE) % 256).astype(np.uint8).reshape(height, width)
    i = np.arange(256, dtype=np.int64)
    pal = np.stack(
        [(i * m + c) % 256 for m, c in (_PAL_R, _PAL_G, _PAL_B)], axis=1
    ).astype(np.uint8)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height) + bytes([0x80 | 0x07, 0, 0])
    out += pal.tobytes()
    if interlaced:
        order = [
            r for start, step in _INTERLACE_PASSES for r in range(start, height, step)
        ]
        stored = idx[order]
    else:
        stored = idx
    comp = _lzw_encode(stored.reshape(-1).tolist(), 8)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
    out += bytes([0x40 if interlaced else 0x00, 8])
    for off in range(0, len(comp), 255):
        chunk = comp[off : off + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


_GIFPX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
    ]
)


def decode_gif_features(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """Real GIF pixel statistics (first frame): dimensions + integer-
    exact per-channel RGB means after LZW decode + palette mapping."""

    def row(doc_id: int, v) -> dict:
        null = dict.fromkeys(("width", "height", "mean_r", "mean_g", "mean_b"))
        null["doc_id"] = doc_id
        if v is None:
            return null
        px = gif_decode_pixels(bytes(v))
        if px is None:
            return null
        h, w, _ = px.shape
        sums = px.reshape(h * w, 3).astype(np.int64).sum(axis=0)
        return {
            "doc_id": doc_id,
            "width": w,
            "height": h,
            "mean_r": int(sums[0]) / (h * w),
            "mean_g": int(sums[1]) / (h * w),
            "mean_b": int(sums[2]) / (h * w),
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame.from_records(
                [row(int(d), v) for d, v in zip(b[id_col], b[data_col])],
                columns=[f.name for f in _GIFPX_SCHEMA.fields],
            )

    return df.mapInPandas(run, schema=_GIFPX_SCHEMA)


def with_synth_gif_pixels(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: full-pixel GIF payload with geometry
    ``w = 9 + id%14, h = 5 + id%11`` (odd ids interlaced)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [
                synth_gif_pixels(int(i), 9 + int(i) % 14, 5 + int(i) % 11)
                for i in ids
            ]
        )

    return df.withColumn("data", _synth(F.col(id_col)))
