"""Per-document character-entropy and compressibility signals.

Two classic webtext quality heuristics the regex-ratio filters
(operators/docfilters.py) cannot see:

- **Shannon character entropy** (bits/char): machine-generated filler,
  keyword-stuffed spam, and encoding mojibake sit at the entropy
  extremes — near 0 for repeated-template text, near log2(alphabet)
  for random gibberish — while natural language occupies a narrow
  band (~3.5-4.5 bits/char for English-like text). RedPajama-v2 and
  Dolma ship entropy-family signals for exactly this cut.
- **Compression ratio** (deflate bytes / utf-8 bytes): the cheap
  proxy for within-document redundancy — boilerplate-heavy or
  near-duplicated-paragraph pages compress far below natural prose.
  Low ratio + high length is the classic template-farm signature
  (the within-doc complement of the across-corpus dedup operators).

Execution shape: ONE Arrow ``mapInPandas`` stage, zero shuffle.
Histogramming and deflate are per-row CPU work with data-dependent
control flow — exactly what this repo's UDF discipline routes through
an Arrow batch stage rather than per-element Column lambdas (see
operators/headmeta.py for the measured why) or a per-char explode
(which would shuffle ROW-PER-CHARACTER at corpus scale).

Semantics (pinned by the ``doc_entropy`` battery oracle in closed
form): characters are Unicode code points (not bytes); empty text
yields (0, 0, 0.0) and a NULL compress ratio; NULL text yields NULLs.
Entropy is log-base-2. Compression is zlib level 6 over UTF-8 with
the 8-byte zlib header/trailer included — a stable, reproducible
measure, not a best-possible one.
"""

from __future__ import annotations

import math
import zlib
from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

__all__ = ["char_signal_features"]

_SIGNAL_FIELDS = [
    StructField("n_chars", IntegerType()),
    StructField("n_distinct_chars", IntegerType()),
    StructField("char_entropy", DoubleType()),
    StructField("compress_ratio", DoubleType()),
]


def char_signal_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_col, n_chars, n_distinct_chars, char_entropy, compress_ratio)
    per document; one Arrow pass over the projected (id, text) pair.
    The id column keeps its input name and type (a long ``doc_id``, a
    string ``url``, ...)."""
    schema = StructType([docs.schema[id_col], *_SIGNAL_FIELDS])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_chars, n_distinct, ent, ratio = [], [], [], []
            for text in pdf[text_col]:
                if text is None:
                    n_chars.append(None)
                    n_distinct.append(None)
                    ent.append(None)
                    ratio.append(None)
                    continue
                n = len(text)
                n_chars.append(n)
                if n == 0:
                    n_distinct.append(0)
                    ent.append(0.0)
                    ratio.append(None)
                    continue
                counts = Counter(text)
                n_distinct.append(len(counts))
                # + 0.0 folds IEEE -0.0 (single-symbol docs) to +0.0 so
                # the value agrees bit-for-bit with SQL oracles
                ent.append(
                    -sum((c / n) * math.log2(c / n) for c in counts.values())
                    + 0.0
                )
                raw = text.encode("utf-8")
                ratio.append(len(zlib.compress(raw, 6)) / len(raw))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].reset_index(drop=True),
                    "n_chars": pd.array(n_chars, dtype="Int32"),
                    "n_distinct_chars": pd.array(n_distinct, dtype="Int32"),
                    "char_entropy": pd.array(ent, dtype="Float64"),
                    "compress_ratio": pd.array(ratio, dtype="Float64"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(batches, schema)
