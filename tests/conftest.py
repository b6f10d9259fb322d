"""Shared fixtures: one SparkSession, a small deterministic crawl world,
and a fully-run engine+oracle pair reused by the parity tests."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from web_scraper_spark.oracle.crawler import OracleCrawler
from web_scraper_spark.plans.rounds import CrawlEngine
from web_scraper_spark.session import get_spark
from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
from web_scraper_spark.sources.fixtures import (
    FixtureConfig,
    PolitenessSpec,
    build_world,
)
from web_scraper_spark.sources.pages_source import resolve_pages, write_world_parquet

N_ROUNDS = 4


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", shuffle_partitions=8, app_name="wss-tests")
    yield s
    s.stop()


def small_config() -> FixtureConfig:
    """~90-URL world with budgets tight enough that politeness binds."""
    return FixtureConfig(
        n_competitors=6,
        yacht_counts=(2, 1, 3, 1, 2, 1),
        period_start="2025-04-12",
        period_end="2025-06-14",  # 9 weekly periods
        missing_page_fraction=0.08,
        error_page_fraction=0.05,
        politeness=PolitenessSpec(
            round_seconds=600,  # host budgets: 20 (30 s hosts) / 40 (15 s)
            global_batch_urls=30,
            global_pause_s=600,
        ),
    )


def ingest_pages(spark, paths, tmp):
    """The pages table as a crawl reads it: resolved once at ingest, as
    ``resolve_pages`` documents, written under ``tmp`` and read back, so
    every round scans a plain file table instead of re-running URL
    canonicalization and the latest-per-URL window."""
    resolve_pages(spark.read.parquet(paths["pages"])).write.parquet(
        tmp + "/pages_resolved"
    )
    return spark.read.parquet(tmp + "/pages_resolved")


@pytest.fixture(scope="session")
def world():
    return build_world(small_config())


@pytest.fixture(scope="session")
def oracle(world):
    o = OracleCrawler(world, world.config.politeness)
    o.stats = o.run(N_ROUNDS)
    return o


# join regimes the parity gates run under: (ATTRS_BROADCAST_THRESHOLD,
# spark.sql.autoBroadcastJoinThreshold, or None to keep the session's)
JOIN_REGIMES = {
    # session defaults: at these budgets every join of the round
    # broadcasts, the crawl attrs onto the extraction output included
    "broadcast": (CrawlEngine.ATTRS_BROADCAST_THRESHOLD, None),
    # Spark's auto-broadcast off: the fetch's two hinted joins (the
    # key-semi into the pages scan, the attrs join) still broadcast,
    # every unhinted join of the round takes a shuffle
    "semi": (CrawlEngine.ATTRS_BROADCAST_THRESHOLD, "-1"),
    # as "semi" with the attrs hint off (a selection past
    # ATTRS_BROADCAST_THRESHOLD): the attrs join shuffles too
    "shuffle": (0, "-1"),
}


@pytest.fixture(scope="session", params=list(JOIN_REGIMES))
def engine_run(request, spark, world):
    """(engine, catalog, stats, tables dict) after N_ROUNDS rounds.

    Parametrized over the join regimes in ``JOIN_REGIMES`` — parity must
    hold whether the round's joins broadcast, shuffle around the fetch's
    hinted joins, or shuffle the attrs join as well.
    """
    attrs_threshold, auto_broadcast = JOIN_REGIMES[request.param]
    tmp = tempfile.mkdtemp(prefix="wss_test_")
    paths = write_world_parquet(world, tmp + "/world")
    catalog = ParquetSnapshotCatalog(spark, tmp + "/state")
    engine = CrawlEngine(
        spark,
        catalog,
        world.config.politeness,
        n_buckets=8,
        ATTRS_BROADCAST_THRESHOLD=attrs_threshold,
    )
    seeds = spark.read.parquet(paths["seeds"])
    robots = spark.read.parquet(paths["robots"])
    pages = ingest_pages(spark, paths, tmp)
    conf_key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(conf_key)
    if auto_broadcast is not None:
        spark.conf.set(conf_key, auto_broadcast)
    try:
        engine.init_frontier(seeds, world.config.period_start, world.config.period_end)
        stats = engine.run(N_ROUNDS, pages, robots, seeds)
    finally:
        spark.conf.set(conf_key, saved)
    tables = {"seeds": seeds, "robots": robots, "pages": pages, "paths": paths, "tmp": tmp}
    yield engine, catalog, stats, tables
    shutil.rmtree(tmp, ignore_errors=True)
