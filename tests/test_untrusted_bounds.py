"""Untrusted-payload resource bounds (ADVICE r4 regressions).

Each media parser promises 'malformed payloads yield nothing, never a
stage failure'. These tests pin the allocation bounds that keep a
crafted 8-byte header or a zlib bomb from OOMing an executor, and the
cuckoo kick-loop rollback that keeps 'no false negatives for present
keys' true even on overflow.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from web_scraper_spark.operators.cuckoo import _SLOTS, _insert_one
from web_scraper_spark.operators.rawmedia import (
    _PNG_SIG,
    _png_chunk,
    decode_png_pixels,
)


# ---------------------------------------------------------------------------
# PNG: IDAT inflation is capped at the conforming output size
# ---------------------------------------------------------------------------


def test_png_idat_decompression_bomb_capped():
    # IHDR says 4x4 RGB (expected inflate = 4*(1+12) = 52 bytes) but the
    # IDAT holds ~64 MB of zeros compressed ~1000x; the decoder must
    # stop at expected+1 bytes and return None, not inflate it all
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bomb = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(64 * 1024 * 1024)))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_png_pixels(bomb) is None
    # exact-size stream with trailing compressed data still rejects
    # (len matches but unconsumed tail remains)
    padded = zlib.compress(bytes(52) + b"x" * 100)
    tail = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", padded)
        + _png_chunk(b"IEND", b"")
    )
    assert decode_png_pixels(tail) is None


# ---------------------------------------------------------------------------
# Cuckoo: overflow rolls the kick trail back, so the dropped key is the
# NEW one (the one n_overflow counts), never an earlier insert
# ---------------------------------------------------------------------------


def test_cuckoo_overflow_rolls_back_kick_trail():
    n_buckets = 2
    rng = np.random.default_rng(11)
    # completely full table: every insert must kick 500 times and fail
    table = rng.integers(1, 0xFFFF, size=(n_buckets, _SLOTS)).astype(np.uint16)
    before = table.copy()
    ok, _state = _insert_one(table, n_buckets, b1=0, fp=7, rng_state=42)
    assert not ok
    # the table is byte-identical to its pre-insert state: every
    # previously-inserted fingerprint is still where a probe looks
    assert np.array_equal(table, before)
