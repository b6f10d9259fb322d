"""Checkpoint/resume: idempotent rounds, crash-resume determinism,
snapshot time travel."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.oracle.crawler import OracleCrawler
from web_scraper_spark.plans.rounds import FRONTIER_COLS, CrawlEngine
from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
from web_scraper_spark.sources.fixtures import build_world
from web_scraper_spark.sources.pages_source import resolve_pages, write_world_parquet
from tests.conftest import small_config


@pytest.fixture(scope="module")
def env(spark):
    cfg = small_config()
    world = build_world(cfg)
    tmp = tempfile.mkdtemp(prefix="wss_resume_")
    paths = write_world_parquet(world, tmp + "/world")
    seeds = spark.read.parquet(paths["seeds"])
    robots = spark.read.parquet(paths["robots"])
    pages = resolve_pages(spark.read.parquet(paths["pages"]))
    yield spark, cfg, world, tmp, seeds, robots, pages
    shutil.rmtree(tmp, ignore_errors=True)


def _frontier_state(catalog):
    return {
        (r.url, r.state, r.attempts, r.not_before)
        for r in catalog.read("frontier")
        .select("url", "state", "attempts", "not_before")
        .collect()
    }


def test_crash_resume_reproduces_identical_state(env):
    spark, cfg, world, tmp, seeds, robots, pages = env

    # full run: 3 rounds straight through
    cat_a = ParquetSnapshotCatalog(spark, tmp + "/state_a")
    eng_a = CrawlEngine(spark, cat_a, cfg.politeness, n_buckets=8)
    eng_a.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng_a.run(3, pages, robots, seeds)

    # crashed run: 2 rounds, then "crash" mid-round-3 (manifest missing →
    # partially-written outputs), then resume
    cat_b = ParquetSnapshotCatalog(spark, tmp + "/state_b")
    eng_b = CrawlEngine(spark, cat_b, cfg.politeness, n_buckets=8)
    eng_b.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng_b.run(2, pages, robots, seeds)
    # simulate a torn round-3: snapshot written but manifest never committed
    frontier_v2 = cat_b.read("frontier", version=2)
    cat_b.write_snapshot("frontier", frontier_v2.limit(10), version=3)
    cat_b.rollback("frontier", 2)
    assert not cat_b.round_committed(3)
    assert cat_b.last_committed_round() == 2
    # resume: run(3) skips rounds 1-2 (committed) and re-executes round 3
    eng_b.run(3, pages, robots, seeds)

    assert _frontier_state(cat_a) == _frontier_state(cat_b)
    log_a = sorted(
        (r.round_id, r.url, r.status)
        for r in cat_a.read_log("fetch_log").select("round_id", "url", "status").collect()
    )
    log_b = sorted(
        (r.round_id, r.url, r.status)
        for r in cat_b.read_log("fetch_log").select("round_id", "url", "status").collect()
    )
    assert log_a == log_b


def test_rerun_committed_round_is_noop(env):
    spark, cfg, world, tmp, seeds, robots, pages = env
    cat = ParquetSnapshotCatalog(spark, tmp + "/state_noop")
    eng = CrawlEngine(spark, cat, cfg.politeness, n_buckets=8)
    eng.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng.run(2, pages, robots, seeds)
    before = _frontier_state(cat)
    out = eng.run_round(1, pages, robots, seeds)  # already committed
    assert out["round_id"] == 1 and out["status"] == "committed"
    assert _frontier_state(cat) == before


def test_time_travel_reads_previous_snapshot(env):
    spark, cfg, world, tmp, seeds, robots, pages = env
    cat = ParquetSnapshotCatalog(spark, tmp + "/state_tt")
    eng = CrawlEngine(spark, cat, cfg.politeness, n_buckets=8)
    eng.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng.run(2, pages, robots, seeds)
    v0 = cat.read("frontier", version=0)
    v2 = cat.read("frontier", version=2)
    assert v0.filter("state != 'pending'").count() == 0
    assert v2.filter("state = 'fetched'").count() > 0
    assert cat.current_version("frontier") == 2


def test_engine_equals_oracle_after_resume(env):
    spark, cfg, world, tmp, seeds, robots, pages = env
    cat = ParquetSnapshotCatalog(spark, tmp + "/state_c")
    eng = CrawlEngine(spark, cat, cfg.politeness, n_buckets=8)
    eng.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng.run(1, pages, robots, seeds)
    eng2 = CrawlEngine(spark, cat, cfg.politeness, n_buckets=8)  # fresh engine obj
    eng2.run(3, pages, robots, seeds)

    oracle = OracleCrawler(world, cfg.politeness)
    oracle.run(3)
    eng_seen = {
        r.url
        for r in cat.read("frontier").filter("state='fetched'").select("url").collect()
    }
    assert eng_seen == oracle.seen


class _CrashAtCommit(ParquetSnapshotCatalog):
    """Raises at ``commit_round`` of one round, once: every data write of
    that round has landed, its manifest has not."""

    def __init__(self, spark, root, crash_round):
        super().__init__(spark, root)
        self.crash_round = crash_round

    def commit_round(self, round_id, info):
        if round_id == self.crash_round:
            self.crash_round = None
            raise RuntimeError(f"crash at commit_round({round_id})")
        return super().commit_round(round_id, info)


def test_mor_compaction_crash_at_commit_resumes_exactly(env):
    """A merge-on-read compaction round that crashes at its manifest
    commit must resume to the uninterrupted state: the deltas it folded
    stay readable until the commit lands."""
    spark, cfg, world, tmp, seeds, robots, pages = env

    def engine(catalog):
        return CrawlEngine(
            spark, catalog, cfg.politeness, n_buckets=8,
            frontier_mode="mor", mor_compact_every=2,
        )

    cat_a = ParquetSnapshotCatalog(spark, tmp + "/state_mor_a")
    eng_a = engine(cat_a)
    eng_a.init_frontier(seeds, cfg.period_start, cfg.period_end)
    eng_a.run(3, pages, robots, seeds)

    cat_b = _CrashAtCommit(spark, tmp + "/state_mor_b", crash_round=2)
    eng_b = engine(cat_b)
    eng_b.init_frontier(seeds, cfg.period_start, cfg.period_end)
    with pytest.raises(RuntimeError, match="crash at commit_round"):
        eng_b.run(2, pages, robots, seeds)
    assert cat_b.last_committed_round() == 1
    eng_b.run(3, pages, robots, seeds)

    def rows(eng):
        return sorted(
            tuple(r) for r in eng._read_frontier(3).select(*FRONTIER_COLS).collect()
        )

    assert rows(eng_b) == rows(eng_a)
