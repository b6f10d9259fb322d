"""Codec-free VP9 superframe index.

VP9 has no start codes and no OBU framing: inside WebM (or raw IVF)
a single block payload may pack several coded frames as a
*superframe* — frames back-to-back, then a trailing index whose
marker byte (0b110 | bytes_per_size-1 | frame_count-1) is repeated at
both ends of the index (VP9 Bitstream & Decoding Process
Specification, Annex B — public spec). A WebM container index stops
at the block; this walk splits the block into its real per-frame byte
extents.

Per frame it also reads the first uncompressed-header bits (§6.2:
frame_marker, profile, show_existing_frame, frame_type, show_frame) —
keyframe detection and show-frame routing without entropy decode.

Contract (shared with every media walker in this package): malformed
payloads yield nothing — never a stage failure, never an unbounded
allocation (sizes only drive index arithmetic, bounded against the
payload length before use). A payload without a valid superframe
index is, per Annex B, a single frame spanning the whole payload.

Reference behavior: public spec only. The scraper reference has no
media tier; this extends SURVEY.md §2.10's multimodal family.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

__all__ = [
    "parse_vp9_frames",
    "synth_vp9",
    "synth_vp9_frame_len",
    "vp9_frame_index",
    "with_synth_vp9",
]


def _header_bits(frame: bytes):
    """First uncompressed-header fields of one coded frame (§6.2) ->
    (profile, show_existing, frame_type, show_frame) with None fields
    when the frame_marker is wrong or the frame is empty. frame_type
    0 is a keyframe; when show_existing_frame is set the header
    carries no frame_type at all."""
    if not frame:
        return None
    b0 = frame[0]
    if (b0 >> 6) != 0b10:  # frame_marker
        return None
    profile = ((b0 >> 5) & 1) | (((b0 >> 4) & 1) << 1)
    bit = 4  # next bit position (MSB-first) after marker+profile bits
    if profile == 3:
        bit += 1  # reserved_zero bit
    show_existing = (b0 >> (7 - bit)) & 1
    if show_existing:
        return profile, 1, None, None
    frame_type = (b0 >> (7 - bit - 1)) & 1
    show_frame = (b0 >> (7 - bit - 2)) & 1
    return profile, 0, frame_type, show_frame


def parse_vp9_frames(data: bytes):
    """-> list of frame dicts, or None when the payload is neither a
    valid superframe nor a plausible single VP9 frame.

    Dict keys: ``offset`` / ``frame_len`` (exact byte extent inside
    the payload), ``profile``, ``show_existing``, ``frame_type``,
    ``show_frame`` (None where the header doesn't carry them), and
    ``is_keyframe``.

    Superframe detection per Annex B: the final byte matches
    0b110xxxxx, the index is 2 + mag*count bytes, its FIRST byte
    repeats the marker, and the frame sizes exactly fill the payload
    before the index. Anything else falls back to the single-frame
    reading — but only if the first byte carries a valid
    frame_marker, so garbage yields None, not a fake extent.
    """
    n = len(data)
    if n == 0:
        return None
    sizes = None
    last = data[-1]
    if (last & 0xE0) == 0xC0:
        mag = ((last >> 3) & 0x3) + 1
        count = (last & 0x7) + 1
        idx_len = 2 + mag * count
        if idx_len <= n and data[n - idx_len] == last:
            cand = []
            pos = n - idx_len + 1
            for _ in range(count):
                cand.append(
                    int.from_bytes(data[pos : pos + mag], "little")
                )
                pos += mag
            if sum(cand) == n - idx_len:
                sizes = cand
    if sizes is None:
        if _header_bits(data) is None:
            return None
        sizes = [n]
    out = []
    off = 0
    for i, size in enumerate(sizes):
        hdr = _header_bits(data[off : off + 1])
        profile = show_existing = frame_type = show_frame = None
        if hdr is not None:
            profile, show_existing, frame_type, show_frame = hdr
        out.append(
            {
                "frame_idx": i,
                "offset": off,
                "frame_len": size,
                "profile": profile,
                "show_existing": show_existing,
                "frame_type": frame_type,
                "show_frame": show_frame,
                "is_keyframe": 1 if frame_type == 0 else 0,
            }
        )
        off += size
    return out


# ---------------------------------------------------------------------------
# Deterministic synth superframe (every field a formula of doc_id, i)
# ---------------------------------------------------------------------------


def synth_vp9_frame_len(doc_id: int, i: int) -> int:
    return 25 + (doc_id * 5 + i * 9) % 60


def synth_vp9(doc_id: int, n_frames: int) -> bytes:
    """Superframe of ``n_frames`` (<=8) coded frames — KEY every 4th
    (frame_type 0) else inter, profile 0, show_frame 1 — followed by
    the Annex-B index with ``mag = 1 + doc_id % 2`` bytes per size, so
    the multi-byte size path is load-bearing for half the corpus."""
    assert 1 <= n_frames <= 8
    mag = 1 + doc_id % 2
    frames = bytearray()
    sizes = []
    for i in range(n_frames):
        flen = synth_vp9_frame_len(doc_id, i)
        first = 0x82 if i % 4 == 0 else 0x86  # marker|profile0|type|show
        frames += bytes([first]) + bytes(
            0x40 + (doc_id * 3 + i * 7 + j) % 0xBF for j in range(flen - 1)
        )
        sizes.append(flen)
    marker = 0xC0 | ((mag - 1) << 3) | (n_frames - 1)
    index = bytearray([marker])
    for s in sizes:
        index += s.to_bytes(mag, "little")
    index.append(marker)
    return bytes(frames + index)


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------

_VP9_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("frame_len", IntegerType(), False),
        StructField("profile", IntegerType(), True),
        StructField("show_existing", IntegerType(), True),
        StructField("frame_type", IntegerType(), True),
        StructField("show_frame", IntegerType(), True),
        StructField("is_keyframe", IntegerType(), False),
    ]
)


def vp9_frame_index(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """One row per coded VP9 frame with its exact byte extent inside
    the (super)frame payload + header routing bits. Arrow-batched
    mapInPandas, bytes never shuffle; undecodable payloads emit
    nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[data_col]):
                frames = parse_vp9_frames(bytes(v)) if v is not None else None
                for fr in frames or ():
                    rows.append(
                        {
                            "doc_id": int(d),
                            "frame_idx": fr["frame_idx"],
                            "offset": fr["offset"],
                            "frame_len": fr["frame_len"],
                            "profile": fr["profile"],
                            "show_existing": fr["show_existing"],
                            "frame_type": fr["frame_type"],
                            "show_frame": fr["show_frame"],
                            "is_keyframe": fr["is_keyframe"],
                        }
                    )
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _VP9_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_VP9_SCHEMA)


def with_synth_vp9(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: VP9 superframe with ``n = 4 + id%5`` frames."""

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series([synth_vp9(int(i), 4 + int(i) % 5) for i in ids])

    return df.withColumn("data", _synth(F.col(id_col)))
