"""REAL audio decode — WAV/RIFF PCM, no media libraries, no stand-in.

PCM audio needs no codec library: the WAV container (RIFF chunks,
Microsoft WAVEFORMAT) is a published byte layout and the payload is raw
little-endian samples, so header walk + ``numpy.frombuffer`` IS a full
decoder. This module decodes the audio modality end-to-end:

- ``synth_wav_pcm16``: deterministic WAV writer (fixture source — the
  byte-level inverse of the decoder, seeded by ``doc_id`` so the DuckDB
  oracle can reproduce every sample from integer arithmetic alone).
- ``parse_wav``: RIFF chunk walk -> (format tag, channels, sample rate,
  bits, frame count, data offset/size). Tolerates extra chunks (LIST,
  fact, bext) like real-world WAVs; returns None on malformed bytes —
  a corpus pipeline must never crash on one bad payload.
- ``decode_audio_features``: Arrow-batched ``mapInPandas`` stage
  decoding every sample: duration, integer-exact RMS/peak, channel-0
  zero-crossing rate. One Python stage, no shuffle; scales exactly like
  the html extraction stage (bounded per-task batch, columnar in/out).
- ``audio_frame_windows``: fixed-length frame windows (the audio analog
  of frame-sampling) with per-window RMS/peak — explodes only
  decoded windows, never raw bytes.

Scale notes: payload bytes never shuffle — both stages run on the scan
layout and emit narrow feature rows. Float math is reproducible across
engines because every accumulation is integer-exact (sum of int64
squares; |s| max; crossing counts) with a single final float64
divide/sqrt — correctly-rounded IEEE ops, so an oracle running the
same expressions produces bit-identical doubles (no decimal rounding
anywhere, which would reintroduce tie-breaking skew between engines).

Reference scope: the reference repo has no audio path (it scrapes
yacht-charter HTML — SURVEY.md §2.8 maps its binary handling to
``pages.html``); this module is part of the beyond-reference
training-data-pipeline mandate (multimodal columns).
"""

from __future__ import annotations

import struct
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
    "synth_wav_pcm16",
    "synth_samples",
    "parse_wav",
    "decode_wav_samples",
    "decode_audio_features",
    "audio_frame_windows",
    "mp3_frames",
    "mp3_frame_index",
    "synth_mp3",
    "ogg_pages",
    "ogg_page_index",
    "synth_ogg",
]

# deterministic sample generator constants (Knuth multiplicative hash
# and a small odd stride) — shared verbatim by the DuckDB oracle SQL
_MULT = 2654435761
_STRIDE = 40503


def synth_samples(doc_id: int, n_interleaved: int) -> np.ndarray:
    """Interleaved PCM16 samples as a pure integer function of
    ``(doc_id, index)`` — the formula the correctness oracle replays in
    SQL: ``s(i) = ((doc_id*2654435761 + i*40503) % 65536) - 32768``."""
    i = np.arange(n_interleaved, dtype=np.int64)
    return ((doc_id * _MULT + i * _STRIDE) % 65536 - 32768).astype(np.int16)


def synth_wav_pcm16(
    doc_id: int, frames: int, rate: int, channels: int
) -> bytes:
    """A complete, valid PCM16 WAV file for the given geometry."""
    data = synth_samples(doc_id, frames * channels).tobytes()
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block_align, block_align, 16
    )
    body = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(data: bytes):
    """RIFF walk -> (audio_format, channels, sample_rate, bits,
    n_frames, data_offset, data_size), or None when malformed.

    Walks chunks in file order (chunks are word-aligned; odd sizes pad
    one byte per the RIFF spec), accepting unknown chunks between
    ``fmt `` and ``data`` as real encoders emit (LIST/INFO, fact,
    bext). Requires integer PCM (format tag 1) or IEEE float (3).
    """
    n = len(data)
    if n < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos = 12
    fmt_info = None
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = pos + 8
        if cid == b"fmt " and size >= 16 and body + 16 <= n:
            tag, ch, rate, _, _, bits = struct.unpack(
                "<HHIIHH", data[body : body + 16]
            )
            fmt_info = (tag, ch, rate, bits)
        elif cid == b"data":
            if fmt_info is None:
                return None
            tag, ch, rate, bits = fmt_info
            if tag not in (1, 3) or ch < 1 or rate < 1 or bits % 8:
                return None
            size = min(size, n - body)  # truncated file: decode what's there
            bytes_per_frame = ch * (bits // 8)
            if bytes_per_frame == 0:
                return None
            return (tag, ch, rate, bits, size // bytes_per_frame, body, size)
        pos = body + size + (size & 1)
    return None


def decode_wav_samples(data: bytes):
    """(header, interleaved int samples) or None. PCM8 is unsigned per
    the spec (rebased to signed); PCM16/24/32 little-endian signed;
    float32/64 scaled to the 16-bit grid for a common integer domain."""
    hdr = parse_wav(data)
    if hdr is None:
        return None
    tag, ch, rate, bits, n_frames, off, size = hdr
    raw = data[off : off + size]
    width = bits // 8
    raw = raw[: (len(raw) // width) * width]  # truncated tail: whole samples
    if tag == 1 and bits == 16:
        s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    elif tag == 1 and bits == 8:
        s = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
    elif tag == 1 and bits == 32:
        s = np.frombuffer(raw, dtype="<i4").astype(np.int64)
    elif tag == 1 and bits == 24:
        b = np.frombuffer(raw[: (len(raw) // 3) * 3], dtype=np.uint8)
        b = b.reshape(-1, 3).astype(np.int64)
        s = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        s -= (s & 0x800000) << 1  # sign-extend
    elif tag == 3 and bits in (32, 64):
        f = np.frombuffer(raw, dtype="<f4" if bits == 32 else "<f8")
        s = np.clip(np.rint(f * 32768.0), -32768, 32767).astype(np.int64)
    else:
        return None
    usable = (len(s) // ch) * ch
    return hdr, s[:usable]


_FULL_SCALE = {8: 128.0, 16: 32768.0, 24: 8388608.0, 32: 2147483648.0}


_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("bits", IntegerType(), True),
        StructField("n_frames", LongType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", DoubleType(), True),
        StructField("zcr", DoubleType(), True),
    ]
)


def _features_row(doc_id: int, data) -> dict:
    null = {
        "doc_id": doc_id,
        "sample_rate": None,
        "channels": None,
        "bits": None,
        "n_frames": None,
        "duration_s": None,
        "rms": None,
        "peak": None,
        "zcr": None,
    }
    if data is None:
        return null
    dec = decode_wav_samples(bytes(data))
    if dec is None:
        return null
    (tag, ch, rate, bits, n_frames, _, _), s = dec
    scale = _FULL_SCALE.get(bits if tag == 1 else 16, 32768.0)
    # integer-exact accumulations; ONE float divide/sqrt at the end so
    # the DuckDB oracle (same integer sums) reproduces bit-for-bit
    if len(s):
        # integer dot is int64-exact for <=16-bit samples (s^2 <= 2^30);
        # wider samples would overflow int64, so they accumulate in
        # float64 (the oracle fixture is PCM16, the exact path)
        if bits <= 16 or tag == 3:
            ss = int(np.dot(s, s))
        else:
            ss = float(np.dot(s.astype(np.float64), s.astype(np.float64)))
        rms = float(np.sqrt(ss / (len(s) * scale * scale)))
        peak = float(int(np.max(np.abs(s))) / scale)
    else:
        rms, peak = 0.0, 0.0
    c0 = s[::ch]
    if len(c0) > 1:
        nonneg = c0 >= 0
        zcr = float(int(np.sum(nonneg[1:] != nonneg[:-1])) / (len(c0) - 1))
    else:
        zcr = 0.0
    return {
        "doc_id": doc_id,
        "sample_rate": rate,
        "channels": ch,
        "bits": bits,
        "n_frames": n_frames,
        # raw IEEE doubles, no rounding: every accumulation is integer-
        # exact and the final divide/sqrt are single correctly-rounded
        # ops, so the oracle's identical expressions are bit-identical
        "duration_s": n_frames / rate,
        "rms": rms,
        "peak": peak,
        "zcr": zcr,
    }


def decode_audio_features(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """Full-sample audio decode -> one narrow feature row per payload.

    Arrow-batched ``mapInPandas`` on the scan layout (bytes never
    shuffle); malformed/non-WAV payloads yield null features instead of
    failing the stage.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame.from_records(
                [
                    _features_row(int(d), v)
                    for d, v in zip(b[id_col], b[data_col])
                ],
                columns=[f.name for f in _FEATURES_SCHEMA.fields],
            )

    return df.mapInPandas(run, schema=_FEATURES_SCHEMA)


_WINDOWS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("window_idx", IntegerType(), False),
        StructField("start_s", DoubleType(), False),
        StructField("rms", DoubleType(), False),
        StructField("peak", DoubleType(), False),
    ]
)


def audio_frame_windows(
    df: DataFrame,
    data_col: str = "data",
    id_col: str = "doc_id",
    window_frames: int = 160,
) -> DataFrame:
    """Fixed-length analysis windows (default 160 frames = 20 ms at
    8 kHz) with per-window RMS/peak over all channels — the audio
    frame-sampler. Emits only decoded windows; undecodable payloads
    emit nothing (the feature stage reports those as nulls)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[data_col]):
                dec = decode_wav_samples(bytes(v)) if v is not None else None
                if dec is None:
                    continue
                (tag, ch, rate, bits, n_frames, _, _), s = dec
                scale = _FULL_SCALE.get(bits if tag == 1 else 16, 32768.0)
                step = window_frames * ch
                exact = bits <= 16 or tag == 3
                for w in range(0, (len(s) + step - 1) // step):
                    seg = s[w * step : (w + 1) * step]
                    ss = (
                        int(np.dot(seg, seg))
                        if exact
                        else float(np.dot(seg.astype(np.float64), seg.astype(np.float64)))
                    )
                    rows.append(
                        {
                            "doc_id": int(d),
                            "window_idx": w,
                            "start_s": w * window_frames / rate,
                            "rms": float(np.sqrt(ss / (len(seg) * scale * scale))),
                            "peak": float(int(np.max(np.abs(seg))) / scale),
                        }
                    )
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _WINDOWS_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_WINDOWS_SCHEMA)


def synth_wav_frame(doc_id_series: pd.Series) -> pd.Series:
    """Vectorized fixture synth: WAV bytes per doc_id with geometry
    ``frames = 400 + id%600, rate = 8000*(1 + id%2), channels = 1 + id%2``
    (the geometry the battery oracle replays)."""
    return pd.Series(
        [
            synth_wav_pcm16(
                int(i),
                400 + int(i) % 600,
                8000 * (1 + int(i) % 2),
                1 + int(i) % 2,
            )
            for i in doc_id_series
        ]
    )


def with_synth_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach the deterministic WAV payload column (fixture stage)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return synth_wav_frame(ids)

    return df.withColumn("data", _synth(F.col(id_col)))


# ---------------------------------------------------------------------------
# MP3 (MPEG-1 Layer III) frame index — REAL header walk, codec-free.
# Sample decode needs the Layer III Huffman tables + synthesis filter
# bank (a genuine codec); the FRAME STRUCTURE does not: every frame
# header is 4 published bytes (ISO 11172-3 §2.4.1.3) that fully
# determine the frame's byte length, so walking sync words yields the
# exact per-frame byte index + duration a 100 TB audio pipeline needs
# before any decoder runs.
# ---------------------------------------------------------------------------

# MPEG-1 Layer III bitrate table (kbit/s), index 1..14; 0=free, 15=bad
_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_MP3_RATES = [44100, 48000, 32000]  # sample-rate index 0..2; 3=reserved
_MP3_SAMPLES_PER_FRAME = 1152


def mp3_frames(data: bytes, max_resync: int = 2048):
    """Walk MPEG-1 Layer III frame headers -> [(frame_idx, offset,
    byte_len, bitrate_kbps, sample_rate)] or None when no valid frame
    is found. Tolerates leading junk (ID3v2 skipped by its declared
    size, otherwise bounded resync) and a truncated final frame (kept
    out of the index). frame_len = 144000*bitrate/rate + padding."""
    n = len(data)
    pos = 0
    if data[:3] == b"ID3" and n >= 10:
        # ID3v2 size: 4 sync-safe bytes
        size = (
            (data[6] & 0x7F) << 21
            | (data[7] & 0x7F) << 14
            | (data[8] & 0x7F) << 7
            | (data[9] & 0x7F)
        )
        pos = 10 + size
    frames = []
    scanned = 0
    while pos + 4 <= n:
        b0, b1, b2 = data[pos], data[pos + 1], data[pos + 2]
        # sync (11 bits) + MPEG-1 (version bits 11) + Layer III (01)
        if not (b0 == 0xFF and (b1 & 0xFE) == 0xFA):
            if frames:
                break  # stream ended; don't resync past decoded frames
            pos += 1
            scanned += 1
            if scanned > max_resync:
                return None
            continue
        br_idx = b2 >> 4
        sr_idx = (b2 >> 2) & 0x3
        pad = (b2 >> 1) & 0x1
        if br_idx in (0, 15) or sr_idx == 3:
            if frames:
                break
            pos += 1
            continue
        bitrate = _MP3_BITRATES[br_idx]
        rate = _MP3_RATES[sr_idx]
        length = (144000 * bitrate) // rate + pad
        if pos + length > n:
            break  # truncated final frame: keep complete prefix
        frames.append((len(frames), pos, length, bitrate, rate))
        pos += length
    return frames or None


_MP3_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("frame_len", IntegerType(), False),
        StructField("bitrate_kbps", IntegerType(), False),
        StructField("sample_rate", IntegerType(), False),
    ]
)


def mp3_frame_index(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """One row per MP3 frame with its exact byte extent, bitrate, and
    sample rate — VBR-safe (per-frame headers, not an average). One
    Arrow pass on the scan layout; undecodable payloads emit nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[data_col]):
                fr = mp3_frames(bytes(v)) if v is not None else None
                for idx, off, ln, br, sr in fr or ():
                    rows.append((int(d), idx, off, ln, br, sr))
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _MP3_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_MP3_SCHEMA)


def synth_mp3(doc_id: int, n_frames: int) -> bytes:
    """A structurally valid MPEG-1 Layer III stream whose per-frame
    header fields are pure formulas: ``bitrate_idx = 1 + (doc_id*3 +
    i) % 14``, ``rate_idx = i % 3``, ``padding = (doc_id + i) % 2`` —
    VBR by construction, so the index must read every header. Frame
    payloads are filler bytes (no codec claim); an ID3v2 tag of
    ``10 + doc_id % 7`` junk bytes precedes frame 0."""
    tag_junk = doc_id % 7
    out = bytearray(b"ID3\x04\x00\x00")
    out += bytes([0, 0, 0, tag_junk & 0x7F])
    out += bytes((doc_id + k) % 251 for k in range(tag_junk))
    for i in range(n_frames):
        br_idx = 1 + (doc_id * 3 + i) % 14
        sr_idx = i % 3
        pad = (doc_id + i) % 2
        hdr = bytes(
            [
                0xFF,
                0xFB,  # MPEG-1 Layer III, no CRC
                (br_idx << 4) | (sr_idx << 2) | (pad << 1),
                0x00,
            ]
        )
        length = (144000 * _MP3_BITRATES[br_idx]) // _MP3_RATES[sr_idx] + pad
        body = bytes((doc_id + i + k) % 256 for k in range(length - 4))
        out += hdr + body
    return bytes(out)


def with_synth_mp3(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: VBR MP3 with ``n_frames = 3 + id%6``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series([synth_mp3(int(i), 3 + int(i) % 6) for i in ids])

    return df.withColumn("data", _synth(F.col(id_col)))


# ---------------------------------------------------------------------------
# Ogg (RFC 3533) page index — REAL page walk with CRC verification.
# Vorbis/Opus packet decode needs a codec; the PAGE STRUCTURE does not:
# capture pattern + lacing table + the spec's CRC-32 (poly 0x04C11DB7,
# unreflected, init/xorout 0) give per-page byte extents, granule
# positions, and stream boundaries — the web-audio container analog of
# the MP4/WebM frame indexes.
# ---------------------------------------------------------------------------

_OGG_CRC_TABLE = []


def _ogg_crc(data: bytes) -> int:
    if not _OGG_CRC_TABLE:
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
            _OGG_CRC_TABLE.append(r & 0xFFFFFFFF)
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[((crc >> 24) & 0xFF) ^ b]
    return crc


def ogg_pages(data: bytes):
    """Walk Ogg pages -> [(page_idx, offset, payload_len, granule,
    serial, is_bos, is_eos)] or None when no valid page exists.
    ``offset`` is the payload's byte position (after the 27-byte header
    + lacing table). Each page's CRC is verified (field zeroed per the
    spec); a corrupt or truncated trailing page ends the walk, keeping
    the valid prefix."""
    n = len(data)
    pos = 0
    pages = []
    while pos + 27 <= n:
        if data[pos : pos + 4] != b"OggS" or data[pos + 4] != 0:
            break
        hdr_type = data[pos + 5]
        granule = int.from_bytes(data[pos + 6 : pos + 14], "little", signed=True)
        serial = int.from_bytes(data[pos + 14 : pos + 18], "little")
        crc_stored = int.from_bytes(data[pos + 22 : pos + 26], "little")
        nsegs = data[pos + 26]
        lace_end = pos + 27 + nsegs
        if lace_end > n:
            break
        payload_len = sum(data[pos + 27 : lace_end])
        page_end = lace_end + payload_len
        if page_end > n:
            break
        page = bytearray(data[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc_stored:
            break
        pages.append(
            (
                len(pages),
                lace_end,
                payload_len,
                granule,
                serial,
                1 if hdr_type & 0x02 else 0,
                1 if hdr_type & 0x04 else 0,
            )
        )
        pos = page_end
    return pages or None


def synth_ogg(doc_id: int, n_pages: int) -> bytes:
    """A valid Ogg stream (real CRCs) whose page ``i`` carries one
    ``50 + (doc_id*7 + i*13) % 60``-byte segment at granule
    ``(i+1)*256 + doc_id%32``, serial ``doc_id % 1000`` — with the
    28-byte fixed header+lacing, page i's payload offset is the closed
    form ``28*(i+1) + sum(len_j for j < i)`` the oracle replays."""
    out = bytearray()
    serial = doc_id % 1000
    for i in range(n_pages):
        ln = 50 + (doc_id * 7 + i * 13) % 60
        htype = 0x02 if i == 0 else (0x04 if i == n_pages - 1 else 0x00)
        granule = (i + 1) * 256 + doc_id % 32
        payload = bytes((doc_id + i + k) % 256 for k in range(ln))
        page = bytearray(b"OggS")
        page += bytes([0, htype])
        page += granule.to_bytes(8, "little")
        page += serial.to_bytes(4, "little")
        page += i.to_bytes(4, "little")
        page += b"\x00\x00\x00\x00"  # crc placeholder
        page += bytes([1, ln])  # one lacing value
        page += payload
        crc = _ogg_crc(bytes(page))
        page[22:26] = crc.to_bytes(4, "little")
        out += page
    return bytes(out)


_OGG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("page_idx", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("page_len", IntegerType(), False),
        StructField("granule", LongType(), False),
        StructField("serial", LongType(), False),
        StructField("is_bos", IntegerType(), False),
        StructField("is_eos", IntegerType(), False),
    ]
)


def ogg_page_index(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """One row per CRC-verified Ogg page with its payload byte extent,
    granule position, and stream flags. Undecodable payloads emit
    nothing; one Arrow pass on the scan layout."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[data_col]):
                pg = ogg_pages(bytes(v)) if v is not None else None
                for idx, off, ln, gran, ser, bos, eos in pg or ():
                    rows.append((int(d), idx, off, ln, gran, ser, bos, eos))
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _OGG_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_OGG_SCHEMA)


def with_synth_ogg(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: Ogg stream with ``n_pages = 3 + id%7``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series([synth_ogg(int(i), 3 + int(i) % 7) for i in ids])

    return df.withColumn("data", _synth(F.col(id_col)))


# ---------------------------------------------------------------------------
# ADTS AAC frame index — the dominant bare-audio-elementary-stream
# format on the web (HLS segments, TS payloads, raw .aac responses).
# Each frame carries a 7-byte header (9 with CRC) whose published
# layout (ISO/IEC 14496-3 §1.A.2.2) fully determines the frame's byte
# length — so walking sync words yields exact per-frame byte extents
# + codec-setup routing fields (profile, sample rate, channels) with
# zero codec work, completing the MP3/Ogg/WAV bare-audio family.
# ---------------------------------------------------------------------------

# sampling_frequency_index 0..12 (13-15 reserved)
_ADTS_RATES = [
    96000, 88200, 64000, 48000, 44100, 32000, 24000,
    22050, 16000, 12000, 11025, 8000, 7350,
]


def adts_frames(data: bytes, max_resync: int = 2048):
    """Walk ADTS headers -> [(frame_idx, offset, frame_len, profile,
    sample_rate, channels, crc_present, n_blocks)] or None when no
    valid frame is found. Tolerates an ID3v2 prefix (skipped by its
    declared size) and bounded leading junk; a truncated final frame
    is kept out of the index. frame_len is the header's
    aac_frame_length field (header + optional CRC + raw blocks), so
    extents tile the stream by construction."""
    n = len(data)
    pos = 0
    if data[:3] == b"ID3" and n >= 10:
        size = (
            (data[6] & 0x7F) << 21
            | (data[7] & 0x7F) << 14
            | (data[8] & 0x7F) << 7
            | (data[9] & 0x7F)
        )
        pos = 10 + size
    frames = []
    scanned = 0
    while pos + 7 <= n:
        b0, b1 = data[pos], data[pos + 1]
        # sync (12 bits) + layer must be 00
        if not (b0 == 0xFF and (b1 & 0xF0) == 0xF0 and (b1 & 0x06) == 0):
            if frames:
                break  # stream ended; don't resync past decoded frames
            pos += 1
            scanned += 1
            if scanned > max_resync:
                return None
            continue
        b2, b3, b4, b5 = data[pos + 2], data[pos + 3], data[pos + 4], data[pos + 5]
        sf_idx = (b2 >> 2) & 0x0F
        if sf_idx >= len(_ADTS_RATES):
            if frames:
                break
            pos += 1
            continue
        crc_present = 0 if (b1 & 0x01) else 1
        hdr_len = 7 + 2 * crc_present
        frame_len = ((b3 & 0x03) << 11) | (b4 << 3) | (b5 >> 5)
        if frame_len < hdr_len:
            if frames:
                break
            pos += 1
            continue
        if pos + frame_len > n:
            break  # truncated final frame: keep complete prefix
        frames.append(
            (
                len(frames),
                pos,
                frame_len,
                (b2 >> 6) & 0x3,
                _ADTS_RATES[sf_idx],
                ((b2 & 0x01) << 2) | (b3 >> 6),
                crc_present,
                (data[pos + 6] & 0x03) + 1,
            )
        )
        pos += frame_len
    return frames or None


_ADTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("frame_len", IntegerType(), False),
        StructField("profile", IntegerType(), False),
        StructField("sample_rate", IntegerType(), False),
        StructField("channels", IntegerType(), False),
        StructField("crc_present", IntegerType(), False),
        StructField("n_blocks", IntegerType(), False),
    ]
)


def adts_frame_index(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """One row per ADTS AAC frame with its exact byte extent and the
    codec-setup fields (profile/rate/channels) a downstream decoder
    needs. One Arrow pass on the scan layout; undecodable payloads
    emit nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[data_col]):
                fr = adts_frames(bytes(v)) if v is not None else None
                for idx, off, ln, prof, sr, ch, crc, nb in fr or ():
                    rows.append((int(d), idx, off, ln, prof, sr, ch, crc, nb))
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _ADTS_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_ADTS_SCHEMA)


def synth_adts_payload_len(doc_id: int, i: int) -> int:
    return 30 + (doc_id * 7 + i * 13) % 40


def synth_adts(doc_id: int, n_frames: int) -> bytes:
    """A structurally valid ADTS stream whose per-frame header fields
    are pure formulas: profile (doc_id+i)%4, rate index 3 + i%3
    (48000/44100/32000), channels 1 + (doc_id+i)%2, CRC present on
    every 5th frame (9-byte header), payload filler of
    ``synth_adts_payload_len`` bytes; an ID3v2 tag of 10 + doc_id%7
    bytes precedes frame 0, mirroring the MP3 synth."""
    tag_junk = doc_id % 7
    out = bytearray(b"ID3\x04\x00\x00")
    out += bytes([0, 0, 0, tag_junk & 0x7F])
    out += bytes((doc_id + k) % 251 for k in range(tag_junk))
    for i in range(n_frames):
        crc = 1 if i % 5 == 0 else 0
        hdr_len = 7 + 2 * crc
        profile = (doc_id + i) % 4
        sf_idx = 3 + i % 3
        channels = 1 + (doc_id + i) % 2
        frame_len = hdr_len + synth_adts_payload_len(doc_id, i)
        fullness = 0x7FF
        out += bytes(
            [
                0xFF,
                0xF0 | (0 if crc else 1),
                (profile << 6) | (sf_idx << 2) | ((channels >> 2) & 1),
                ((channels & 0x3) << 6) | ((frame_len >> 11) & 0x3),
                (frame_len >> 3) & 0xFF,
                ((frame_len & 0x7) << 5) | ((fullness >> 6) & 0x1F),
                ((fullness & 0x3F) << 2) | 0,  # one raw data block
            ]
        )
        if crc:
            out += bytes([(doc_id + i) % 256, (doc_id * 3 + i) % 256])
        out += bytes(
            (doc_id * 5 + i * 3 + k) % 256
            for k in range(frame_len - hdr_len)
        )
    return bytes(out)


def with_synth_adts(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: ADTS AAC with ``n_frames = 4 + id%6``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series([synth_adts(int(i), 4 + int(i) % 6) for i in ids])

    return df.withColumn("data", _synth(F.col(id_col)))
