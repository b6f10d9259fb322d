"""EXIF metadata extraction — REAL TIFF IFD walk inside JPEG APP1,
codec-free (the published TIFF 6.0 + EXIF 2.3 byte layouts).

A web-scale image pipeline reads EXIF long before (and usually
instead of) decoding pixels: camera make/model, orientation (needed
to interpret any decode), timestamps, and exposure parameters are the
routing/filter/provenance fields. All of it lives in the APP1
segment's embedded TIFF structure — marker walk to APP1, ``Exif\\0\\0``
signature, byte-order mark (``II`` little / ``MM`` big — both real on
the web), IFD0 entry table, and the EXIF sub-IFD behind the 0x8769
pointer tag. Inline-vs-offset value storage (values wider than 4
bytes live at a file offset) is handled per the spec.

One Arrow ``mapInPandas`` stage on the scan layout: image bytes never
shuffle, the stage emits narrow (tag, type, value) rows, malformed
payloads yield nothing. Value rendering is deterministic text
(ASCII without the trailing NUL; integers as decimal; RATIONAL as
``num/den``) so the DuckDB oracle replays rows from formulas alone.

Reference scope: the reference repo has no image path (SURVEY.md
§2.8); this module is part of the beyond-reference multimodal
mandate: a metadata front-end that needs no JPEG pixel decoder.
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
    "parse_exif",
    "exif_index",
    "synth_jpeg_exif",
    "with_synth_exif",
]

# TIFF field types we materialize (id -> (name, unit byte width))
_TYPE_WIDTH = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}
_EXIF_IFD_POINTER = 0x8769
_MAX_ENTRIES = 512  # sanity bound against crafted counts (ADVICE r4 class)


def _render(vtype: int, count: int, raw: bytes, endian: str):
    """Deterministic text rendering of one IFD value."""
    if vtype == 2:  # ASCII: strip trailing NULs
        return raw[:count].split(b"\x00", 1)[0].decode("ascii", "replace")
    if vtype in (1, 3, 4, 7, 9):
        width = _TYPE_WIDTH[vtype]
        fmt = {1: "B", 3: "H", 4: "I", 7: "B", 9: "i"}[vtype]
        vals = [
            struct.unpack(endian + fmt, raw[k * width : (k + 1) * width])[0]
            for k in range(count)
        ]
        return ",".join(str(v) for v in vals)
    if vtype in (5, 10):  # RATIONAL / SRATIONAL
        fmt = "II" if vtype == 5 else "ii"
        vals = []
        for k in range(count):
            num, den = struct.unpack(endian + fmt, raw[k * 8 : k * 8 + 8])
            vals.append(f"{num}/{den}")
        return ",".join(vals)
    return raw.hex()


def _walk_ifd(tiff: bytes, ifd_off: int, endian: str, ifd_id: int, out: list):
    """One IFD entry table -> rows appended to ``out``; returns the
    EXIF sub-IFD offset if the pointer tag is present, else None."""
    n = len(tiff)
    if ifd_off + 2 > n:
        return None
    count = struct.unpack(endian + "H", tiff[ifd_off : ifd_off + 2])[0]
    if count > _MAX_ENTRIES or ifd_off + 2 + 12 * count > n:
        return None
    sub = None
    for e in range(count):
        base = ifd_off + 2 + 12 * e
        tag, vtype, vcount = struct.unpack(
            endian + "HHI", tiff[base : base + 8]
        )
        width = _TYPE_WIDTH.get(vtype)
        if width is None or vcount > n:
            continue  # unknown/implausible: skip the entry, not the file
        nbytes = width * vcount
        if nbytes <= 4:
            raw = tiff[base + 8 : base + 12]
        else:
            off = struct.unpack(endian + "I", tiff[base + 8 : base + 12])[0]
            if off + nbytes > n:
                continue
            raw = tiff[off : off + nbytes]
        if tag == _EXIF_IFD_POINTER and vtype == 4 and vcount == 1:
            sub = struct.unpack(endian + "I", raw[:4])[0]
            continue  # structural pointer: followed, not emitted
        out.append((ifd_id, tag, vtype, vcount, _render(vtype, vcount, raw, endian)))
    return sub


def parse_exif(data: bytes):
    """JPEG marker walk -> APP1 Exif -> TIFF IFD0 + EXIF sub-IFD.
    Returns [(ifd, tag, dtype, n, value_s)] or None when the payload
    has no well-formed Exif APP1. Both byte orders are supported; the
    0x8769 pointer is followed (rows get ifd=1) but not emitted."""
    n = len(data)
    if n < 4 or data[:2] != b"\xff\xd8":
        return None
    pos = 2
    tiff = None
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            break
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9 or marker == 0xDA:
            break  # EOI / entropy data: no APP1 seen
        seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
        if seglen < 2 or pos + 2 + seglen > n:
            break
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            tiff = body[6:]
            break
        pos += 2 + seglen
    if tiff is None or len(tiff) < 8:
        return None
    if tiff[:2] == b"II":
        endian = "<"
    elif tiff[:2] == b"MM":
        endian = ">"
    else:
        return None
    if struct.unpack(endian + "H", tiff[2:4])[0] != 42:
        return None
    ifd0 = struct.unpack(endian + "I", tiff[4:8])[0]
    rows: list = []
    sub = _walk_ifd(tiff, ifd0, endian, 0, rows)
    if sub is not None:
        _walk_ifd(tiff, sub, endian, 1, rows)
    return rows or None


# ---------------------------------------------------------------------------
# deterministic fixture
# ---------------------------------------------------------------------------


def synth_jpeg_exif(doc_id: int) -> bytes:
    """A JPEG whose APP1 carries a real TIFF structure, byte order
    alternating by parity (``II`` even ids / ``MM`` odd — the parser
    must handle both): IFD0 = Make ``CAM{id%10}`` (5-byte ASCII, at
    offset), Model ``M{id%100:02d}`` (4-byte ASCII, inline),
    Orientation ``1+id%8`` (SHORT), XResolution ``(72+id%4)/1``
    (RATIONAL, at offset), + the 0x8769 pointer; EXIF sub-IFD =
    ISOSpeedRatings ``100*(1+id%8)`` (SHORT) and ExposureTime
    ``1/(30+id%200)`` (RATIONAL, at offset). Fixed layout: Make@74,
    XRes@79, sub-IFD@87, ExposureTime@117 (TIFF-relative)."""
    endian = "<" if doc_id % 2 == 0 else ">"
    order = b"II" if doc_id % 2 == 0 else b"MM"

    def entry(tag, vtype, count, value_bytes):
        v = value_bytes + b"\x00" * (4 - len(value_bytes))
        return struct.pack(endian + "HHI", tag, vtype, count) + v[:4]

    make = f"CAM{doc_id % 10}\x00".encode()          # 5 bytes -> offset 74
    model = f"M{doc_id % 100:02d}\x00".encode()      # 4 bytes -> inline
    xres = struct.pack(endian + "II", 72 + doc_id % 4, 1)   # @79
    expo = struct.pack(endian + "II", 1, 30 + doc_id % 200)  # @117
    ifd0 = struct.pack(endian + "H", 5)
    ifd0 += entry(0x010F, 2, 5, struct.pack(endian + "I", 74))
    ifd0 += entry(0x0110, 2, 4, model)
    ifd0 += entry(0x0112, 3, 1, struct.pack(endian + "H", 1 + doc_id % 8))
    ifd0 += entry(0x011A, 5, 1, struct.pack(endian + "I", 79))
    ifd0 += entry(_EXIF_IFD_POINTER, 4, 1, struct.pack(endian + "I", 87))
    ifd0 += b"\x00\x00\x00\x00"  # next-IFD: none
    sub = struct.pack(endian + "H", 2)
    sub += entry(0x8827, 3, 1, struct.pack(endian + "H", 100 * (1 + doc_id % 8)))
    sub += entry(0x829A, 5, 1, struct.pack(endian + "I", 117))
    sub += b"\x00\x00\x00\x00"
    tiff = order + struct.pack(endian + "H", 42) + struct.pack(endian + "I", 8)
    tiff += ifd0            # 8..74
    tiff += make            # 74..79
    tiff += xres            # 79..87
    tiff += sub             # 87..117
    tiff += expo            # 117..125
    body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + (len(body) + 2).to_bytes(2, "big") + body
    return b"\xff\xd8" + app1 + b"\xff\xd9"


def with_synth_exif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage: attach the deterministic Exif JPEG payload."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series([synth_jpeg_exif(int(i)) for i in ids])

    return df.withColumn("data", _synth(F.col(id_col)))


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------

_EXIF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("ifd", IntegerType(), False),
        StructField("tag", IntegerType(), False),
        StructField("dtype", IntegerType(), False),
        StructField("n", IntegerType(), False),
        StructField("value_s", StringType(), False),
    ]
)


def exif_index(
    df: DataFrame, data_col: str = "data", id_col: str = "doc_id"
) -> DataFrame:
    """One row per EXIF field (IFD0 + EXIF sub-IFD) with deterministic
    text values. One Arrow pass on the scan layout; payloads without a
    well-formed Exif APP1 emit nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, v in zip(b[id_col], b[data_col]):
                fields = parse_exif(bytes(v)) if v is not None else None
                for ifd, tag, vtype, count, val in fields or ():
                    rows.append((int(d), ifd, tag, vtype, count, val))
            yield pd.DataFrame.from_records(
                rows, columns=[f.name for f in _EXIF_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=_EXIF_SCHEMA)
