"""URL-seen dedup: Bloom prefilter + exact anti-join (op S6/J1).

The reference does a per-row Mongo ``find_one`` per candidate
(nausys_tracker.py:375-387) — an index nested-loop lookup. Distributed
re-expression, two phases:

1. **Bloom prefilter** (optional, the 10^10 path): probe the partitioned
   per-bucket Bloom table (operators.bloom). ``might_be_seen == False``
   rows are *definitely* unseen and skip the expensive exact join — at a
   mature crawl most candidates are re-discovered links, so this kills
   the bulk of the anti-join's shuffle volume.
2. **Exact left-anti join** on ``url_hash`` for the Bloom-positive rows
   (clears false positives). Both sides hash-partition on ``url_hash``;
   with the catalog's bucket layout this is co-partitioned.

Correctness invariant: output == plain ``left_anti`` on ``url_hash``
(Bloom has no false negatives) — asserted in tests/test_seen.py.

The crawl round does not call this operator. Its URL-seen test is the
exact ``(url_hash, url)`` anti-join of each round's discoveries against
the frontier keys (plans/rounds.py), which is where the reference
applies its seen check. Fetch candidates need none: they are the
frontier's ``pending`` rows, the seen set is its ``fetched`` rows, and
the frontier holds one row per key (tests/test_seen_invariant.py).
This operator serves candidate sets that CAN overlap a separate seen
set (the ``seen_antijoin`` battery entry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import bloom_might_contain, build_bloom_table

__all__ = ["filter_unseen", "build_seen_bloom"]


def build_seen_bloom(
    seen: DataFrame,
    n_buckets: int = 64,
    expected_items_per_bucket: int = 100_000,
    fpp: float = 0.01,
    params: tuple[int, int] | None = None,
) -> DataFrame:
    return build_bloom_table(
        seen.select("url_hash"), n_buckets, expected_items_per_bucket, fpp,
        params=params,
    )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom_table: DataFrame | None = None,
    n_buckets: int = 64,
    confirm_cols: list[str] | None = None,
) -> DataFrame:
    """Rows of ``candidates`` not present in ``seen``.

    ``confirm_cols`` are the exact anti-join keys (default
    ``["url_hash"]``). At 10^10-URL scale a few 64-bit collisions are
    expected, so the crawl plan passes ``["url_hash", "url"]`` — the
    string confirm costs nothing extra (same shuffle, hash key first)
    and guarantees a colliding new URL is not silently dropped. The
    Bloom prefilter stays hash-only: a hash collision there is just one
    more false positive, resolved by the exact join.
    """
    keys = confirm_cols or ["url_hash"]
    if bloom_table is None:
        return candidates.join(seen.select(*keys), keys, "left_anti")

    flagged = bloom_might_contain(candidates, bloom_table, n_buckets)
    definitely_new = flagged.filter(~F.col("might_be_seen")).drop("might_be_seen")
    maybe_seen = flagged.filter(F.col("might_be_seen")).drop("might_be_seen")
    confirmed_new = maybe_seen.join(seen.select(*keys), keys, "left_anti")
    return definitely_new.unionByName(confirmed_new)
