"""WebVTT cue index — REAL cue parsing per the published WebVTT
format (W3C; the caption/subtitle format of HTML5 ``<track>`` and HLS).

Captions are the text modality attached to web video: a video-training
pipeline extracts cue timings + text to align transcripts with frame
extents (e.g. the VP9 superframe index in vp9.py).
This stage parses cue blocks — optional cue identifier line, the
``hh:mm:ss.mmm --> hh:mm:ss.mmm`` timing line (hours optional, cue
settings after the end stamp ignored per spec), payload lines until a
blank line — skipping NOTE/STYLE/REGION blocks and tolerating a UTF-8
BOM. Emits one narrow row per cue (millisecond timings, id, joined
text, line count); documents without a valid ``WEBVTT`` header emit
nothing, never a stage failure.

One Arrow ``mapInPandas`` pass on the scan layout — like every other
media stage, payload text never shuffles; downstream joins see only
narrow cue rows.

Reference scope: no subtitle path in the reference (SURVEY.md §2.8);
beyond-reference multimodal mandate (text-for-video modality).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "parse_webvtt",
    "webvtt_cue_index",
    "synth_webvtt",
    "with_synth_webvtt",
    "parse_srt",
    "srt_cue_index",
    "synth_srt",
    "with_synth_srt",
]

_TS_RE = re.compile(r"(?:(\d{1,4}):)?([0-5]\d):([0-5]\d)\.(\d{3})")
_ARROW_RE = re.compile(
    r"^\s*((?:\d{1,4}:)?[0-5]\d:[0-5]\d\.\d{3})\s+-->\s+"
    r"((?:\d{1,4}:)?[0-5]\d:[0-5]\d\.\d{3})(?:\s+.*)?$"
)


def _ts_ms(ts: str):
    m = _TS_RE.fullmatch(ts)
    if not m:
        return None
    h = int(m.group(1)) if m.group(1) else 0
    return ((h * 60 + int(m.group(2))) * 60 + int(m.group(3))) * 1000 + int(
        m.group(4)
    )


def parse_webvtt(text: str):
    """-> [(cue_idx, start_ms, end_ms, cue_id, text, n_lines)] or None
    when the payload is not a WebVTT document. Cue settings after the
    end timestamp are ignored; NOTE/STYLE/REGION blocks are skipped; a
    block whose timing line doesn't parse is skipped (not fatal)."""
    if text is None:
        return None
    if text.startswith("﻿"):
        text = text[1:]
    lines = text.replace("\r\n", "\n").replace("\r", "\n").split("\n")
    if not lines or not lines[0].startswith("WEBVTT"):
        return None
    # split into blank-line-separated blocks after the header line
    blocks: list[list[str]] = []
    cur: list[str] = []
    for ln in lines[1:]:
        if ln.strip() == "":
            if cur:
                blocks.append(cur)
                cur = []
        else:
            cur.append(ln)
    if cur:
        blocks.append(cur)
    cues = []
    for blk in blocks:
        first = blk[0].strip()
        if first.startswith(("NOTE", "STYLE", "REGION")):
            continue
        cue_id = None
        idx = 0
        if "-->" not in blk[0]:
            if len(blk) < 2 or "-->" not in blk[1]:
                continue
            cue_id = blk[0].strip()
            idx = 1
        m = _ARROW_RE.match(blk[idx])
        if not m:
            continue
        start, end = _ts_ms(m.group(1)), _ts_ms(m.group(2))
        if start is None or end is None or end < start:
            continue
        payload = blk[idx + 1 :]
        cues.append(
            (len(cues), start, end, cue_id, "\n".join(payload), len(payload))
        )
    return cues or None


# ---------------------------------------------------------------------------
# deterministic fixture
# ---------------------------------------------------------------------------


def _fmt_ts(ms: int) -> str:
    h, rem = divmod(ms, 3600000)
    m, rem = divmod(rem, 60000)
    s, frac = divmod(rem, 1000)
    if h:
        return f"{h:02d}:{m:02d}:{s:02d}.{frac:03d}"
    return f"{m:02d}:{s:02d}.{frac:03d}"


def synth_webvtt(doc_id: int, n_cues: int) -> str:
    """A WebVTT document whose cue fields are pure formulas the oracle
    replays: ``start_ms = (id%5)*1800000 + i*2000 + (id%7)*111`` (ids
    with ``id%5 >= 2`` cross the hour mark, exercising the hh: path),
    ``dur = 900 + (id*13+i*29)%2000``, an id line ``c{id}-{i}`` on
    even cues only, a ``align:start`` setting on odd cues (must be
    ignored), ``1 + (id+i)%2`` payload lines, and a NOTE block after
    the header when ``id%3 == 0``."""
    out = ["WEBVTT", ""]
    if doc_id % 3 == 0:
        out += ["NOTE deterministic fixture", ""]
    for i in range(n_cues):
        start = (doc_id % 5) * 1800000 + i * 2000 + (doc_id % 7) * 111
        end = start + 900 + (doc_id * 13 + i * 29) % 2000
        if i % 2 == 0:
            out.append(f"c{doc_id}-{i}")
        settings = " align:start" if i % 2 == 1 else ""
        out.append(f"{_fmt_ts(start)} --> {_fmt_ts(end)}{settings}")
        for j in range(1 + (doc_id + i) % 2):
            out.append(f"line{j} doc{doc_id} cue{i}")
        out.append("")
    return "\n".join(out)


def with_synth_webvtt(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: WebVTT document with ``n_cues = 3 + id%5``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series([synth_webvtt(int(i), 3 + int(i) % 5) for i in ids])

    return df.withColumn("vtt", _synth(F.col(id_col)))


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------

_VTT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("cue_idx", IntegerType(), False),
        StructField("start_ms", LongType(), False),
        StructField("end_ms", LongType(), False),
        StructField("cue_id", StringType(), True),
        StructField("text", StringType(), False),
        StructField("n_lines", IntegerType(), False),
    ]
)


def webvtt_cue_index(
    df: DataFrame, text_col: str = "vtt", id_col: str = "doc_id"
) -> DataFrame:
    """One row per WebVTT cue with millisecond timings, optional cue
    id, joined payload text, and line count. One Arrow pass on the
    scan layout; non-WebVTT payloads emit nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[text_col]):
                cues = parse_webvtt(v) if v is not None else None
                for idx, s, e, cid, txt, nl in cues or ():
                    rows.append((int(d), idx, s, e, cid, txt, nl))
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _VTT_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_VTT_SCHEMA)


# ---------------------------------------------------------------------------
# SRT (SubRip) — the other subtitle format a crawl actually encounters.
# Same cue model as WebVTT but: no file header, a numeric sequence line
# per cue, comma decimal separator in timestamps, hours mandatory (we
# tolerate their absence like real-world parsers do).
# ---------------------------------------------------------------------------

_SRT_TS_RE = re.compile(r"(?:(\d{1,4}):)?([0-5]\d):([0-5]\d)[,.](\d{3})")
_SRT_ARROW_RE = re.compile(
    r"^\s*((?:\d{1,4}:)?[0-5]\d:[0-5]\d[,.]\d{3})\s+-->\s+"
    r"((?:\d{1,4}:)?[0-5]\d:[0-5]\d[,.]\d{3})\s*$"
)


def _srt_ts_ms(ts: str):
    m = _SRT_TS_RE.fullmatch(ts)
    if not m:
        return None
    h = int(m.group(1)) if m.group(1) else 0
    return ((h * 60 + int(m.group(2))) * 60 + int(m.group(3))) * 1000 + int(
        m.group(4)
    )


def parse_srt(text: str):
    """-> [(cue_idx, seq, start_ms, end_ms, text, n_lines)] or None
    when the payload yields no SRT cues. A block is: optional numeric
    sequence line, a ``HH:MM:SS,mmm --> HH:MM:SS,mmm`` timing line,
    payload lines until a blank line. A block whose timing line
    doesn't parse is skipped (not fatal); ``seq`` is -1 when the
    sequence line is absent."""
    if text is None:
        return None
    if text.startswith("﻿"):
        text = text[1:]
    lines = text.replace("\r\n", "\n").replace("\r", "\n").split("\n")
    blocks: list[list[str]] = []
    cur: list[str] = []
    for ln in lines:
        if ln.strip() == "":
            if cur:
                blocks.append(cur)
                cur = []
        else:
            cur.append(ln)
    if cur:
        blocks.append(cur)
    cues = []
    for blk in blocks:
        seq = -1
        idx = 0
        if "-->" not in blk[0]:
            if not blk[0].strip().isdigit():
                continue
            if len(blk) < 2 or "-->" not in blk[1]:
                continue
            seq = int(blk[0].strip())
            idx = 1
        m = _SRT_ARROW_RE.match(blk[idx])
        if not m:
            continue
        start, end = _srt_ts_ms(m.group(1)), _srt_ts_ms(m.group(2))
        if start is None or end is None or end < start:
            continue
        payload = blk[idx + 1 :]
        cues.append(
            (len(cues), seq, start, end, "\n".join(payload), len(payload))
        )
    return cues or None


def _fmt_srt_ts(ms: int) -> str:
    h, rem = divmod(ms, 3600000)
    m, rem = divmod(rem, 60000)
    s, frac = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d},{frac:03d}"


def synth_srt(doc_id: int, n_cues: int) -> str:
    """An SRT document whose cue fields are pure formulas the oracle
    replays: ``seq = i + 1``, ``start_ms = (id%4)*900000 + i*3000 +
    (id%9)*77``, ``dur = 800 + (id*17 + i*23)%2500``, and
    ``1 + (id+i)%2`` payload lines. Docs with ``id%4 == 3`` get an
    extra blank line between blocks (must be tolerated)."""
    out = []
    for i in range(n_cues):
        start = (doc_id % 4) * 900000 + i * 3000 + (doc_id % 9) * 77
        end = start + 800 + (doc_id * 17 + i * 23) % 2500
        out.append(str(i + 1))
        out.append(f"{_fmt_srt_ts(start)} --> {_fmt_srt_ts(end)}")
        for j in range(1 + (doc_id + i) % 2):
            out.append(f"sline{j} doc{doc_id} cue{i}")
        out.append("")
        if doc_id % 4 == 3:
            out.append("")
    return "\n".join(out)


def with_synth_srt(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: SRT document with ``n_cues = 3 + id%5``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series([synth_srt(int(i), 3 + int(i) % 5) for i in ids])

    return df.withColumn("srt", _synth(F.col(id_col)))


_SRT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("cue_idx", IntegerType(), False),
        StructField("seq", IntegerType(), False),
        StructField("start_ms", LongType(), False),
        StructField("end_ms", LongType(), False),
        StructField("text", StringType(), False),
        StructField("n_lines", IntegerType(), False),
    ]
)


def srt_cue_index(
    df: DataFrame, text_col: str = "srt", id_col: str = "doc_id"
) -> DataFrame:
    """One row per SRT cue with millisecond timings, the numeric
    sequence, joined payload text, and line count. One Arrow pass on
    the scan layout; payloads with no SRT cues emit nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[text_col]):
                cues = parse_srt(v) if v is not None else None
                for idx, seq, s, e, txt, nl in cues or ():
                    rows.append((int(d), idx, seq, s, e, txt, nl))
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _SRT_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_SRT_SCHEMA)
