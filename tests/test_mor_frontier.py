"""Merge-on-read frontier parity: compacting every second round
(``mor_compact_every=2``) must produce the EXACT same frontier state as
compacting every round (``mor_compact_every=1``, a full snapshot per
round: the copy-on-write schedule) after every round — same rows, same
states, same attempts/backoff — while writing only budget-proportional
deltas between compaction points.

Compaction cadence 2 over 4 rounds exercises both round kinds (rounds
1, 3 = delta writes; rounds 2, 4 = compaction snapshots), plus resume
on top of a delta round (the merged read must reconstruct the exact
pre-round state from base + deltas)."""

from __future__ import annotations

import dataclasses
import os
import shutil
import tempfile

import pytest

from web_scraper_spark.plans.rounds import FRONTIER_COLS, CrawlEngine
from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
from web_scraper_spark.sources.fixtures import PolitenessSpec
from web_scraper_spark.sources.pages_source import write_world_parquet
from tests.conftest import ingest_pages

N_ROUNDS = 4


def _frontier_rows(engine: CrawlEngine, as_of: int):
    df = engine._read_frontier(as_of).select(*FRONTIER_COLS)
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def mor_pair(spark, world):
    """(every-round engine, every-second-round engine, inputs): same
    world, independent state."""
    tmp = tempfile.mkdtemp(prefix="wss_mor_")
    paths = write_world_parquet(world, tmp + "/world")
    seeds = spark.read.parquet(paths["seeds"])
    robots = spark.read.parquet(paths["robots"])
    pages = ingest_pages(spark, paths, tmp)
    engines = {}
    for every in (1, 2):
        catalog = ParquetSnapshotCatalog(spark, f"{tmp}/state_every{every}")
        engines[every] = CrawlEngine(
            spark,
            catalog,
            world.config.politeness,
            n_buckets=8,
            mor_compact_every=every,
        )
        engines[every].init_frontier(
            seeds, world.config.period_start, world.config.period_end
        )
    yield engines[1], engines[2], (pages, robots, seeds)
    shutil.rmtree(tmp, ignore_errors=True)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_mor_matches_cow_every_round(mor_pair):
    cow, mor, (pages, robots, seeds) = mor_pair
    for r in range(1, N_ROUNDS + 1):
        s_cow = cow.run_round(r, pages, robots, seeds)
        s_mor = mor.run_round(r, pages, robots, seeds)
        overlay, overlaid = mor._overlaid_frontier(r)
        # deltas after every odd round; the overlay keys its anti-join
        # on latest-per-key, which already holds each delta key once
        assert overlaid == (r % 2 == 1)
        if overlaid:
            assert "HashAggregate" not in _physical_plan(overlay), f"round {r}"
        for k in ("selected", "success", "empty", "error", "robots", "discovered", "seen_total"):
            assert s_cow[k] == s_mor[k], f"round {r}: {k}"
        assert _frontier_rows(cow, r) == _frontier_rows(mor, r), f"round {r}"


def test_mor_writes_are_delta_sized_and_compaction_prunes(mor_pair):
    cow, mor, _ = mor_pair
    # compacting every round: a snapshot per round and never a delta
    assert cow.catalog.versions("frontier") == list(range(N_ROUNDS + 1))
    assert not os.path.exists(cow.catalog.append_dir("frontier_delta"))
    cat = mor.catalog
    # rounds 2 and 4 compacted: only snapshot versions 0, 2, 4 exist
    assert cat.versions("frontier") == [0, 2, 4]
    # all folded deltas were dropped at the round-4 compaction
    assert cat.log_round_ids("frontier_delta") == []
    # the delta rounds recorded the base version they overlaid, not a
    # new snapshot
    assert cat.read_round_manifest(1)["frontier_version"] == 0
    assert cat.read_round_manifest(2)["frontier_version"] == 2
    assert cat.read_round_manifest(3)["frontier_version"] == 2


def test_mor_resume_from_delta_round(spark, world, mor_pair):
    """Re-running committed rounds no-ops; extending past them reuses
    the merged (base + delta) state exactly."""
    cow, mor, (pages, robots, seeds) = mor_pair
    before = _frontier_rows(mor, N_ROUNDS)
    stats = mor.run(N_ROUNDS, pages, robots, seeds)  # all committed
    assert all(s["status"] == "committed" for s in stats)
    assert _frontier_rows(mor, N_ROUNDS) == before


def test_mor_read_time_travel_after_compaction(mor_pair):
    """Time travel to compaction points stays exact after deltas are
    pruned. (Delta rounds between compactions are NOT time-travelable
    once their deltas were folded — the same trade Iceberg makes when
    expire_snapshots prunes history.)"""
    cow, mor, _ = mor_pair
    for r in (2, 4):
        assert _frontier_rows(mor, r) == _frontier_rows(cow, r), f"as_of {r}"


def test_frontier_mode_is_init_only_and_mor_only(spark, tmp_path):
    """``frontier_mode`` is accepted only as ``"mor"`` and never stored:
    the frontier has one code path."""
    catalog = ParquetSnapshotCatalog(spark, str(tmp_path))
    spec = PolitenessSpec()
    engine = CrawlEngine(spark, catalog, spec, frontier_mode="mor")
    assert not hasattr(engine, "frontier_mode")
    assert "frontier_mode" not in {f.name for f in dataclasses.fields(engine)}
    with pytest.raises(ValueError, match="frontier_mode"):
        CrawlEngine(spark, catalog, spec, frontier_mode="cow")
