"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship crawl-scheduling pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` — the operator battery from
web_scraper_spark.queries (one entry per implemented SURVEY.md §2
operator + the training-data pipeline extensions), with DuckDB oracle
SQL for every SQL-expressible op.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from web_scraper_spark.queries import (  # noqa: E402,F401  (populates REGISTRY)
    battery,
    battery_filters,
    battery_mmk,
    battery_pipeline,
    battery_sketches,
    battery_text,
    battery_web,
)
from web_scraper_spark.queries.battery import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one politeness-scheduled crawl selection over sf0.001.

    Synthesizes a URL frontier from the events table, canonicalizes +
    hashes, drops seen URLs (anti-join), applies per-host politeness
    budgets and the global ordered-limit, and returns the per-host
    selection metrics — the §3.1 round pipeline in miniature.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf_dir = "/root/testdata/sf0.001"

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from web_scraper_spark.functions.urls import canonicalize_url, url_hash

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cand = ev.select(
        "event_id",
        "ts",
        (F.col("user_id") % 20).alias("host_id"),
        canonicalize_url(
            F.concat(
                F.lit("HTTPS://Host"),
                (F.col("user_id") % 20).cast("string"),
                F.lit(".Example.COM:443/e/"),
                F.col("event_id").cast("string"),
                F.lit("?b=2&a=1#frag"),
            )
        ).alias("url"),
    ).withColumn("url_hash", url_hash(F.col("url")))

    seen = cand.filter(F.col("event_id") % 5 == 0).select("url_hash")
    unseen = cand.join(seen, "url_hash", "left_anti")

    w = Window.partitionBy("host_id").orderBy("ts", "event_id")
    selected = (
        unseen.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .orderBy("ts", "event_id")
        .limit(300)
    )
    return (
        selected.groupBy("host_id")
        .agg(
            F.count("*").alias("n_selected"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .orderBy("host_id")
    )


# ---------------------------------------------------------------------------
# Driver-check ordering. The correctness driver verifies the FIRST ~50
# entries of queries() per round (r1: 37, r2: 49, r3-r5: exactly
# positions 0-49); with 113 registered entries, check coverage must
# ROTATE across rounds so every entry accumulates a green CORRECTNESS
# row. _CHECK_FIRST pins 73 of them, in priority order:
#   1. entries that have NEVER had a driver check, or whose last green
#      row predates a rewrite of their operator (cuckoo_evict, the
#      similarity group, robots_filter, politeness_budget — VERDICT r4
#      item #1), then the round-5 head-metadata/feed/WET entries;
#   2. entries whose operators changed in round 5 (sitemap hints,
#      connected components, redirect pointer-doubling);
#   3. the oldest surviving green rows (r2 trio, then r3 in registry
#      order).
# Entries past the window all hold an unchanged-code green row from a
# prior round (see COVERAGE.md per-entry round ledger).
# ---------------------------------------------------------------------------
_CHECK_FIRST = [
    # VERDICT r4 "Next round" #1: the late-r4 entry never driver-checked
    # (its cuckoo module also took the r5 untrusted-payload bound fix)...
    "cuckoo_evict",
    # ...and the 6 whose green rows predate an r3/r4 rewrite of their
    # operator (similarity head/IVF re-layout; robots RFC 9309 match
    # target; politeness domain-grain budget) → old rows no longer
    # vouch for the current code
    "cosine_topk",
    "dedup_embedding_neardup",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "robots_filter",
    "politeness_budget",
    # NEW in round 5 (head-metadata vocabulary, feeds, WET round trip)
    "feed_parse",
    "head_metadata",
    "jsonld_extract",
    "pagination_chains",
    "hreflang_clusters",
    "mirror_hosts",
    "link_header_parse",
    "wet_roundtrip",
    # changed in round 5 (ADVICE r4: changed code stays in the
    # check-first window): sitemap hint fields widened sitemap_parse's
    # schema and added the new sitemap_hints entry; the
    # connected-components loop and redirect pointer-doubling were
    # rewritten (dedup_components/cluster_keep, redirect_resolve,
    # canonical_collapse — pagination_chains/hreflang_clusters/
    # head_metadata above already cover the headmeta rewrite)
    "sitemap_hints",
    "doc_entropy",
    "retry_after_parse",
    "sitemap_parse",
    "dedup_components",
    "dedup_cluster_keep",
    "redirect_resolve",
    "canonical_collapse",
    # oldest surviving green rows: the r2 trio, then r3 rows in registry
    # order (all other entries hold an unchanged-code r4 green row)
    "pricing_summary",
    "top_revenue_orders",
    "nation_volume",
    "global_budget",
    "seen_antijoin",
    "frontier_merge",
    "extract_adversarial",
    "revisit_schedule",
    "host_pagerank",
    "trap_hosts",
    "stratified_sample",
    "pack_sequences",
    "decontaminate",
    "dedup_exact",
    "dedup_minhash",
    "dedup_lsh_pairs",
    "dedup_jaccard",
    "dedup_simhash",
    "corpus_clean",
    "retry_backoff",
    "adaptive_backoff",
    "task_expansion",
    "price_compare",
    "latest_per_key",
    "fetch_metrics",
    "url_canonicalize",
    "url_dedup_variants",
    "registrable_domain",
    "weekly_periods",
    "parse_price",
    # ---- ordered positions 53 on (the 53 entries above are all
    # registered, so this is past the driver's 0-49 window): every entry
    # below holds a green driver row from r3/r4 with operator code
    # unchanged since (COVERAGE.md per-entry ledger) ----
    "price_regex_parse",
    "format_currency",
    "collect_periods",
    "date_format_api",
    "epoch_millis",
    "host_fetch_stats",
    "host_priority_blend",
    "weekly_periods_mmk",
    "listing_enrich",
    "price_sanity",
    "price_sibling_extract",
    "param_template_scan",
    "seeds_map_accum",
    "fingerprint_docs",
    "lang_id",
    "quality_score",
    "token_count",
    "repetition_score",
    "web_noise",
    "contact_density",
]


def _ordered_names() -> list[str]:
    rest = [n for n in REGISTRY if n not in _CHECK_FIRST]
    return _CHECK_FIRST + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def with_utc(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # time-typed results (epoch millis, hour windows, strftime)
            # are defined against UTC — the DuckDB oracle reads naive
            # parquet timestamps as UTC, so the Spark session must too
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        return wrapped

    return {name: with_utc(REGISTRY[name][0]) for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name][1]
        for name in _ordered_names()
        if REGISTRY[name][1] is not None
    }
