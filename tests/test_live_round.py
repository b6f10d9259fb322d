"""Live-fetch mode: a full crawl round through the Arrow HTTP stage.

The same round plumbing the lookup join exercises — politeness
selection → fetch → outcome split → extraction → frontier merge — but
with ``CrawlEngine.client_factory`` set, so the fetch is the
``http_fetch_stage`` scaffold (P12: one client per Python worker) and
the raw bytes are materialized to the ``fetch_raw`` catalog table
before any consumer runs.

Parity bar: identical frontier state transitions, seen set, fetch-log
statuses, and byte-identical extraction text vs the pure-Python oracle
— i.e. exactly the gates the lookup path passes.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import N_ROUNDS, ingest_pages
from web_scraper_spark.plans.rounds import CrawlEngine
from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
from web_scraper_spark.sources.pages_source import write_world_parquet


@pytest.fixture(scope="module")
def live_run(spark, world):
    """Engine run in live mode: the mock client answers from the same
    resolved pages the lookup join would read — 200+html for ok pages,
    500+html for error pages, (0, None) for URLs that do not resolve
    (network timeout)."""
    tmp = tempfile.mkdtemp(prefix="wss_live_")
    paths = write_world_parquet(world, tmp + "/world")
    seeds = spark.read.parquet(paths["seeds"])
    robots = spark.read.parquet(paths["robots"])
    pages = ingest_pages(spark, paths, tmp)

    web = {
        r["url_canon"]: (
            500 if r["page_status"] == "error" else 200,
            bytes(r["html"]).decode("utf-8"),
        )
        for r in pages.select("url_canon", "page_status", "html").collect()
    }

    class WorldClient:  # defined in-test: cloudpickle ships it by value
        def __init__(self, site):
            self.site = site

        def get(self, url):
            return self.site.get(url, (0, None))

    def factory(site=web):
        return WorldClient(site)

    catalog = ParquetSnapshotCatalog(spark, tmp + "/state")
    engine = CrawlEngine(
        spark,
        catalog,
        world.config.politeness,
        n_buckets=8,
        client_factory=factory,
    )
    engine.init_frontier(seeds, world.config.period_start, world.config.period_end)
    stats = engine.run(N_ROUNDS, pages, robots, seeds)
    yield engine, catalog, stats
    shutil.rmtree(tmp, ignore_errors=True)


def test_live_round_counts_match_oracle(oracle, live_run):
    _, _, stats = live_run
    for o, e in zip(oracle.stats, stats):
        for key in ("selected", "success", "empty", "error", "discovered"):
            assert o[key] == e[key], (key, o, e)


def test_live_frontier_states_match_oracle(oracle, live_run):
    _, catalog, _ = live_run
    frontier = catalog.read("frontier")
    eng = {
        r.url: (r.state, r.attempts, r.not_before)
        for r in frontier.select(
            "url", "state", "attempts", "not_before"
        ).collect()
    }
    ora = {
        e.url: (e.state, e.attempts, e.not_before)
        for e in oracle.frontier.values()
    }
    assert eng == ora


def test_live_seen_set_matches_oracle(oracle, live_run):
    _, catalog, _ = live_run
    eng_seen = {
        r.url
        for r in catalog.read("frontier")
        .filter("state = 'fetched'")
        .select("url")
        .collect()
    }
    assert eng_seen == oracle.seen


def test_live_extraction_text_byte_identical(oracle, live_run):
    _, catalog, _ = live_run
    ext = catalog.read_log("extractions").select("url", "text").collect()
    eng_text = {r.url: r.text for r in ext}
    ora_text = {u: e["text"] for u, e in oracle.extractions.items()}
    assert eng_text == ora_text


def test_live_fetch_log_statuses_match_oracle(oracle, live_run):
    from collections import Counter

    _, catalog, _ = live_run
    log = catalog.read_log("fetch_log")
    eng = Counter(
        (r.round_id, r.host, r.status)
        for r in log.select("round_id", "host", "status").collect()
    )
    ora = Counter(
        (l["round_id"], l["host"], l["status"]) for l in oracle.fetch_log
    )
    assert eng == ora


def test_live_client_init_once_per_worker(live_run):
    """P12 through the full round: every fetched row must carry
    client_seq == 1 — the client was built exactly once per worker
    process, across all rounds and batches."""
    _, catalog, _ = live_run
    raw = catalog.read_log("fetch_raw")
    assert raw.count() > 0
    assert raw.filter(F.col("client_seq") != 1).count() == 0
    # and each selected URL was fetched exactly once per round
    dup = (
        raw.groupBy("round_id", "url")
        .agg(F.count("*").alias("n"))
        .filter("n > 1")
        .count()
    )
    assert dup == 0


def test_live_fetch_raw_stores_urls_in_order_without_key(live_run):
    """``fetch_raw`` stores no ``url_hash`` (the round derives it when it
    reads the bodies back), and each round's rows are in url order."""
    _, catalog, _ = live_run
    raw = catalog.read_log("fetch_raw")
    assert "url" in raw.columns and "url_hash" not in raw.columns
    for r in catalog.log_round_ids("fetch_raw"):
        # one file per round at this size, so file order is table order
        urls = [
            row.url
            for row in raw.filter(F.col("round_id") == r).select("url").collect()
        ]
        assert urls and urls == sorted(urls), r
