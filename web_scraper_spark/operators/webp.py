"""WebP chunk index — REAL RIFF container walk + VP8/VP8L/VP8X header
decode, codec-free (the published WebP container + bitstream specs).

WebP is the remaining major web image format next to PNG/GIF
(rawmedia.py) and JPEG. Full pixel decode needs the VP8 boolean
arithmetic coder; the CONTAINER STRUCTURE does not: the RIFF chunk
grammar (fourcc + le32 size + even-padding), the lossy ``VP8 `` frame
tag (3-byte tag, 0x9d012a start code, 14-bit width/height), the
lossless ``VP8L`` signature byte 0x2F with its 14-bit packed
dimensions + alpha bit, and the extended ``VP8X`` feature flags +
24-bit canvas dimensions are all fixed published byte layouts. The
chunk index is exactly what a 100 TB image pipeline reads to route,
size-filter, and dedup images before any pixel decoder runs — and the
EXIF/XMP/ICCP chunk extents feed the metadata stages (exif.py)
directly.

Operator (Arrow ``mapInPandas`` on the scan layout — payload bytes
never shuffle; malformed payloads yield nothing, never a stage
failure; all declared sizes are bounded against the payload before
use, per the untrusted-input discipline):

- ``webp_chunk_index``: one row per RIFF chunk with fourcc + body
  byte extent; VP8 /VP8L/VP8X rows additionally carry decoded
  width/height, the alpha flag, and a lossless marker.

Reference scope: the reference repo has no image path (SURVEY.md
§2.8); this module is part of the beyond-reference multimodal mandate.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "parse_webp_chunks",
    "webp_chunk_index",
    "synth_webp",
    "with_synth_webp",
]

_FOURCC_OK = frozenset(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 "
)


def _vp8_dims(body: bytes):
    """Lossy VP8 key-frame header -> (width, height, has_alpha=0) or
    None. Layout: 3-byte frame tag (bit 0 must be 0 = key frame),
    start code 9D 01 2A, then two le16s whose low 14 bits are the
    dimensions (high 2 bits are the scaling code)."""
    if len(body) < 10 or body[3:6] != b"\x9d\x01\x2a":
        return None
    if body[0] & 0x01:  # inter frame: no dimensions in the tag
        return None
    w = struct.unpack_from("<H", body, 6)[0] & 0x3FFF
    h = struct.unpack_from("<H", body, 8)[0] & 0x3FFF
    return (w, h, 0)


def _vp8l_dims(body: bytes):
    """Lossless VP8L header -> (width, height, has_alpha) or None.
    Layout: signature 0x2F, then a le32 packing 14-bit width-1,
    14-bit height-1, 1-bit alpha, 3-bit version (must be 0)."""
    if len(body) < 5 or body[0] != 0x2F:
        return None
    bits = struct.unpack_from("<I", body, 1)[0]
    if (bits >> 29) & 0x7:  # version must be 0
        return None
    w = (bits & 0x3FFF) + 1
    h = ((bits >> 14) & 0x3FFF) + 1
    return (w, h, (bits >> 28) & 1)


def _vp8x_dims(body: bytes):
    """Extended VP8X header -> (canvas_w, canvas_h, has_alpha) or
    None. Layout: 1 flag byte (0x20 ICC, 0x10 alpha, 0x08 EXIF,
    0x04 XMP, 0x02 animation), 3 reserved bytes, le24 width-1,
    le24 height-1."""
    if len(body) < 10:
        return None
    w = int.from_bytes(body[4:7], "little") + 1
    h = int.from_bytes(body[7:10], "little") + 1
    return (w, h, (body[0] >> 4) & 1)


def parse_webp_chunks(data: bytes):
    """-> [(chunk_idx, fourcc, offset, chunk_len, width, height,
    has_alpha, lossless)] or None when the payload is not a WebP
    file. ``offset``/``chunk_len`` are the chunk BODY extent (the
    8-byte chunk header precedes it; odd-sized bodies are followed by
    a pad byte per RIFF). Dimensions are populated on VP8 /VP8L/VP8X
    rows only; ``lossless`` is 1 on VP8L, 0 on VP8 /VP8X, null
    elsewhere. A declared chunk size that runs past the payload ends
    the walk (truncated file) instead of allocating or failing."""
    if data is None or len(data) < 12:
        return None
    if data[0:4] != b"RIFF" or data[8:12] != b"WEBP":
        return None
    riff_size = struct.unpack_from("<I", data, 4)[0]
    # bound the declared extent against the real payload (untrusted)
    end = min(8 + riff_size, len(data))
    rows = []
    pos = 12
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        if any(c not in _FOURCC_OK for c in fourcc):
            break
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body_off = pos + 8
        if body_off + size > end:
            break  # truncated chunk: stop, don't trust the size
        body = data[body_off : body_off + size]
        w = h = alpha = lossless = None
        if fourcc == b"VP8 ":
            d = _vp8_dims(body)
            if d:
                w, h, alpha = d
                lossless = 0
        elif fourcc == b"VP8L":
            d = _vp8l_dims(body)
            if d:
                w, h, alpha = d
                lossless = 1
        elif fourcc == b"VP8X":
            d = _vp8x_dims(body)
            if d:
                w, h, alpha = d
                lossless = 0
        rows.append(
            (
                len(rows),
                fourcc.decode("ascii"),
                body_off,
                size,
                w,
                h,
                alpha,
                lossless,
            )
        )
        pos = body_off + size + (size & 1)  # RIFF even padding
    return rows or None


# ---------------------------------------------------------------------------
# deterministic fixture
# ---------------------------------------------------------------------------


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(body)) + body + (
        b"\x00" if len(body) & 1 else b""
    )


def _vp8_body(w: int, h: int, payload_len: int) -> bytes:
    # key-frame tag (bit0=0), start code, 14-bit dims; zero filler after
    head = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
    return head + b"\x00" * (payload_len - len(head))


def _vp8l_body(w: int, h: int, alpha: int, payload_len: int) -> bytes:
    bits = (w - 1) | ((h - 1) << 14) | (alpha << 28)
    head = b"\x2f" + struct.pack("<I", bits)
    return head + b"\x00" * (payload_len - len(head))


def synth_webp(doc_id: int) -> bytes:
    """A WebP file whose chunk layout is a pure formula the oracle
    replays, cycling the three bitstream forms by ``id%3``:

    - ``id%3 == 0``: single lossy ``VP8 `` chunk, body len
      ``10 + id%21``, dims ``(16 + (id*5)%240, 16 + (id*7)%240)``.
    - ``id%3 == 1``: single lossless ``VP8L`` chunk, body len
      ``5 + id%21``, same dim formulas, alpha ``id%2``.
    - ``id%3 == 2``: extended file — ``VP8X`` (10-byte body, canvas =
      same dim formulas, alpha flag ``id%2``, EXIF flag set), an
      ``EXIF`` chunk of ``8 + id%9`` bytes, then a ``VP8 `` chunk of
      ``10 + (id*11)%40`` bytes at the canvas dimensions.
    """
    w = 16 + (doc_id * 5) % 240
    h = 16 + (doc_id * 7) % 240
    form = doc_id % 3
    if form == 0:
        chunks = _chunk(b"VP8 ", _vp8_body(w, h, 10 + doc_id % 21))
    elif form == 1:
        chunks = _chunk(
            b"VP8L", _vp8l_body(w, h, doc_id % 2, 5 + doc_id % 21)
        )
    else:
        flags = 0x08 | (0x10 if doc_id % 2 else 0)  # EXIF (+ alpha)
        vp8x = (
            bytes([flags, 0, 0, 0])
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
        )
        exif = bytes((doc_id + j) % 251 for j in range(8 + doc_id % 9))
        chunks = (
            _chunk(b"VP8X", vp8x)
            + _chunk(b"EXIF", exif)
            + _chunk(b"VP8 ", _vp8_body(w, h, 10 + (doc_id * 11) % 40))
        )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def with_synth_webp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: one deterministic WebP payload per row."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series([synth_webp(int(i)) for i in ids])

    return df.withColumn("data", _synth(F.col(id_col)))


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------

_WEBP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("chunk_idx", IntegerType(), False),
        StructField("fourcc", StringType(), False),
        StructField("offset", LongType(), False),
        StructField("chunk_len", IntegerType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("has_alpha", IntegerType(), True),
        StructField("lossless", IntegerType(), True),
    ]
)


def webp_chunk_index(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """One row per WebP RIFF chunk with its body byte extent, plus
    decoded dimensions/alpha on the bitstream-header chunks. One
    Arrow pass on the scan layout; non-WebP payloads emit nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[data_col]):
                ch = parse_webp_chunks(bytes(v)) if v is not None else None
                for idx, fcc, off, ln, w, hh, al, ll in ch or ():
                    rows.append((int(d), idx, fcc, off, ln, w, hh, al, ll))
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _WEBP_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_WEBP_SCHEMA)
