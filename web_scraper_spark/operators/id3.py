"""ID3v2 tag index — REAL ID3v2.3/2.4 frame walk, codec-free (the
published id3.org ID3v2.3.0 / ID3v2.4.0 informal standards).

ID3v2 is the metadata envelope prepended to most MP3 files on the web.
The tag structure is a fixed byte layout: a
10-byte header with a 28-bit SYNCSAFE size (7 bits per byte, high bit
clear — the one genuinely ID3-specific encoding), then frames of
4-char id + 4-byte size (plain big-endian in v2.3, syncsafe in v2.4)
+ 2 flag bytes, terminated by zero padding. Text frames (``T...``)
carry an encoding byte (0 latin-1, 1 utf-16 w/BOM, 2 utf-16be,
3 utf-8). Title/artist/album text is exactly the audio-side metadata
a 100 TB training pipeline joins against transcripts and frame
indexes — read without ever touching the MPEG audio stream behind it
(audio.py indexes that part).

Operator (Arrow ``mapInPandas`` on the scan layout — payload bytes
never shuffle; malformed payloads yield nothing, never a stage
failure; every declared size is bounded against the payload before
use, per the untrusted-input discipline):

- ``id3_tag_index``: one row per ID3v2 frame with its byte extent,
  the frame id, and — for text frames — the encoding byte and the
  decoded string value.

Reference scope: the reference repo has no audio path (SURVEY.md
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
    "parse_id3v2",
    "id3_tag_index",
    "synth_id3",
    "with_synth_id3",
]

_ID_OK = frozenset(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")


def _syncsafe(b: bytes) -> int | None:
    """28-bit syncsafe integer; None if any byte has the high bit set."""
    if any(c & 0x80 for c in b):
        return None
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _decode_text(payload: bytes):
    """Text-frame payload -> (encoding_byte, decoded str) or None."""
    if not payload:
        return None
    enc = payload[0]
    body = payload[1:]
    try:
        if enc == 0:
            s = body.decode("latin-1")
        elif enc == 1:
            s = body.decode("utf-16")  # BOM-led
        elif enc == 2:
            s = body.decode("utf-16-be")
        elif enc == 3:
            s = body.decode("utf-8")
        else:
            return None
    except (UnicodeDecodeError, LookupError):
        return None
    return enc, s.rstrip("\x00")


def parse_id3v2(data: bytes):
    """-> [(frame_idx, frame_id, offset, frame_len, encoding,
    value_s)] or None when the payload carries no ID3v2.3/2.4 tag.
    ``offset`` is the frame HEADER start; ``frame_len`` is the payload
    size. ``encoding``/``value_s`` populate on decodable text frames
    only. The declared tag size is clamped to the real payload, a
    frame size running past the tag ends the walk, and a zero byte
    where a frame id should be is padding (also ends the walk) — so a
    crafted header can neither allocate nor fail the stage."""
    if data is None or len(data) < 10 or data[0:3] != b"ID3":
        return None
    major = data[3]
    if major not in (3, 4) or data[4] == 0xFF:
        return None
    tag_size = _syncsafe(data[6:10])
    if tag_size is None:
        return None
    end = min(10 + tag_size, len(data))
    rows = []
    pos = 10
    while pos + 10 <= end:
        fid = data[pos : pos + 4]
        if fid[0] == 0:
            break  # padding
        if any(c not in _ID_OK for c in fid):
            break
        raw = data[pos + 4 : pos + 8]
        size = _syncsafe(raw) if major == 4 else struct.unpack(">I", raw)[0]
        if size is None or size == 0 or pos + 10 + size > end:
            break  # corrupt or truncated: stop, don't trust the size
        payload = data[pos + 10 : pos + 10 + size]
        enc = val = None
        if fid[0:1] == b"T":
            t = _decode_text(payload)
            if t:
                enc, val = t
        rows.append((len(rows), fid.decode("ascii"), pos, size, enc, val))
        pos += 10 + size
    return rows or None


# ---------------------------------------------------------------------------
# deterministic fixture
# ---------------------------------------------------------------------------


def _frame(major: int, fid: bytes, payload: bytes) -> bytes:
    n = len(payload)
    if major == 4:
        raw = bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
        )
    else:
        raw = struct.pack(">I", n)
    return fid + raw + b"\x00\x00" + payload


def synth_id3(doc_id: int) -> bytes:
    """An ID3v2 tag whose frames are pure formulas the oracle replays.
    ``major = 3 + id%2`` (exercising BOTH frame-size encodings), four
    text frames — TIT2 ``Title {id%100}`` latin-1, TPE1
    ``Artist {id%50}`` in utf-16-with-BOM on v2.3 and utf-8 on v2.4
    (exercising the multibyte decode), TALB ``Album {id%20}`` latin-1,
    TRCK ``{1 + id%12}`` latin-1 — then ``id%32`` bytes of zero
    padding, followed by two MPEG sync bytes so the tag is a prefix of
    an (undecoded) audio stream as in the wild."""
    major = 3 + doc_id % 2
    frames = _frame(
        major, b"TIT2", b"\x00" + f"Title {doc_id % 100}".encode("latin-1")
    )
    artist = f"Artist {doc_id % 50}"
    if major == 3:
        frames += _frame(major, b"TPE1", b"\x01" + artist.encode("utf-16"))
    else:
        frames += _frame(major, b"TPE1", b"\x03" + artist.encode("utf-8"))
    frames += _frame(
        major, b"TALB", b"\x00" + f"Album {doc_id % 20}".encode("latin-1")
    )
    frames += _frame(
        major, b"TRCK", b"\x00" + str(1 + doc_id % 12).encode("latin-1")
    )
    pad = b"\x00" * (doc_id % 32)
    n = len(frames) + len(pad)
    size = bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )
    return b"ID3" + bytes([major, 0, 0]) + size + frames + pad + b"\xff\xfb"


def with_synth_id3(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: one deterministic ID3v2-tagged payload per row."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series([synth_id3(int(i)) for i in ids])

    return df.withColumn("data", _synth(F.col(id_col)))


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------

_ID3_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_id", StringType(), False),
        StructField("offset", LongType(), False),
        StructField("frame_len", IntegerType(), False),
        StructField("encoding", IntegerType(), True),
        StructField("value_s", StringType(), True),
    ]
)


def id3_tag_index(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """One row per ID3v2 frame with its byte extent and, for text
    frames, the decoded value. One Arrow pass on the scan layout;
    untagged payloads emit nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[data_col]):
                fr = parse_id3v2(bytes(v)) if v is not None else None
                for idx, fid, off, ln, enc, val in fr or ():
                    rows.append((int(d), idx, fid, off, ln, enc, val))
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _ID3_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_ID3_SCHEMA)
