"""Character-entropy / compressibility signals (operators/entropy.py).

The battery row (`doc_entropy`) pins entropy/length/distinct against a
closed-form DuckDB oracle; here: the compress_ratio contract (no SQL
equivalent) and the NULL/empty/unicode edges.
"""

from __future__ import annotations

import math
import zlib

from web_scraper_spark.operators.entropy import char_signal_features


def _run(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r for r in char_signal_features(df).collect()}


def test_entropy_and_counts(spark):
    out = _run(
        spark,
        [
            (1, "aaaa"),          # single symbol: entropy exactly 0.0
            (2, "aabb"),          # two symbols, uniform: exactly 1.0
            (3, "ééa"),           # unicode: 3 CHARS, not 5 bytes
            (4, ""),              # empty
            (5, None),            # null
        ],
    )
    assert (out[1]["n_chars"], out[1]["n_distinct_chars"]) == (4, 1)
    assert out[1]["char_entropy"] == 0.0
    assert math.copysign(1.0, out[1]["char_entropy"]) == 1.0  # not -0.0
    assert out[2]["char_entropy"] == 1.0
    assert (out[3]["n_chars"], out[3]["n_distinct_chars"]) == (3, 2)
    expected = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert abs(out[3]["char_entropy"] - expected) < 1e-12
    assert (out[4]["n_chars"], out[4]["n_distinct_chars"]) == (0, 0)
    assert out[4]["char_entropy"] == 0.0 and out[4]["compress_ratio"] is None
    assert out[5]["n_chars"] is None and out[5]["char_entropy"] is None


def test_compress_ratio_contract(spark):
    template = "the same boilerplate sentence. " * 100
    prose = (
        "Compression separates redundant template farms from prose whose "
        "wording keeps shifting as the argument develops; this sentence "
        "does not repeat itself and keeps introducing novel words like "
        "quixotic, zephyr, bulwark, and marmalade."
    )
    out = _run(spark, [(1, template), (2, prose)])
    # definition pinned: zlib level 6 over utf-8, header included
    for doc_id, text in ((1, template), (2, prose)):
        raw = text.encode("utf-8")
        assert out[doc_id]["compress_ratio"] == len(zlib.compress(raw, 6)) / len(raw)
    # and the signal actually orders template-vs-prose
    assert out[1]["compress_ratio"] < out[2]["compress_ratio"]


def test_id_column_keeps_its_name_and_type(spark):
    """A string page key (the engine's ``url``) and a custom long id both
    come back under their own name and type, not as ``doc_id long``."""
    by_url = char_signal_features(
        spark.createDataFrame([("https://h/a", "aabb"), ("https://h/b", None)],
                              "url string, text string"),
        id_col="url",
    )
    assert by_url.schema["url"].dataType.simpleString() == "string"
    assert "doc_id" not in by_url.columns
    out = {r["url"]: r for r in by_url.collect()}
    assert out["https://h/a"]["char_entropy"] == 1.0
    assert out["https://h/b"]["n_chars"] is None

    by_page = char_signal_features(
        spark.createDataFrame([(7, "aaaa")], "page_id long, text string"),
        id_col="page_id",
    )
    assert by_page.columns[0] == "page_id"
    assert [tuple(r) for r in by_page.select("page_id", "n_chars").collect()] == [(7, 4)]
