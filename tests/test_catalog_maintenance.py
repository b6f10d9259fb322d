"""Catalog maintenance: snapshot expiration + small-file compaction
(the Iceberg expire_snapshots / rewrite_data_files actions a long crawl
needs — every round is a copy-on-write snapshot)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog


@pytest.fixture()
def catalog(spark):
    tmp = tempfile.mkdtemp(prefix="wss_maint_")
    yield ParquetSnapshotCatalog(spark, tmp)
    shutil.rmtree(tmp, ignore_errors=True)


def test_expire_snapshots_keeps_recent_and_current(spark, catalog):
    for v in range(1, 6):
        df = spark.range(10).select((F.col("id") + v).alias("x"))
        catalog.write_snapshot("t", df, version=v)
    expired = catalog.expire_snapshots("t", keep_last=2)
    assert expired == [1, 2, 3]
    assert catalog.current_version("t") == 5
    # retained versions still time-travel
    assert catalog.read("t", version=4).agg(F.min("x")).first()[0] == 4
    # expired data is gone and no longer rollback-able
    assert not os.path.exists(catalog.snapshot_dir("t", 2))
    with pytest.raises(ValueError):
        catalog.rollback("t", 2)
    # idempotent
    assert catalog.expire_snapshots("t", keep_last=2) == []


def test_expire_never_drops_current_after_rollback(spark, catalog):
    for v in range(1, 4):
        catalog.write_snapshot("t", spark.range(5).toDF("x"), version=v)
    catalog.rollback("t", 1)
    expired = catalog.expire_snapshots("t", keep_last=1)
    # current (1) survives even though it is not the newest
    assert 1 not in expired
    assert catalog.read("t").count() == 5


def test_engine_snapshot_retention(spark, world):
    """snapshot_retention=1 keeps only the latest frontier version
    after each committed round, and resume still works."""
    from web_scraper_spark.plans.rounds import CrawlEngine
    from web_scraper_spark.sources.pages_source import (
        resolve_pages,
        write_world_parquet,
    )

    tmp = tempfile.mkdtemp(prefix="wss_retention_")
    try:
        paths = write_world_parquet(world, tmp + "/world")
        catalog = ParquetSnapshotCatalog(spark, tmp + "/state")
        engine = CrawlEngine(
            spark,
            catalog,
            world.config.politeness,
            n_buckets=8,
            snapshot_retention=1,
        )
        seeds = spark.read.parquet(paths["seeds"])
        robots = spark.read.parquet(paths["robots"])
        pages = resolve_pages(spark.read.parquet(paths["pages"]))
        engine.init_frontier(seeds, world.config.period_start, world.config.period_end)
        engine.run(2, pages, robots, seeds)

        assert catalog.current_version("frontier") == 2
        assert not os.path.exists(catalog.snapshot_dir("frontier", 1))
        assert catalog.read("frontier").count() > 0
        # resume past committed rounds is still a no-op extension
        stats = engine.run(3, pages, robots, seeds)
        assert [s["round_id"] for s in stats] == [1, 2, 3]
        assert catalog.current_version("frontier") == 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compact_snapshot_preserves_data_and_reduces_files(spark, catalog):
    df = spark.range(1000).repartition(16).toDF("x")
    catalog.write_snapshot("t", df, version=1)
    path_before = catalog.snapshot_dir("t", 1)
    n_before = len(
        [f for f in os.listdir(path_before) if f.endswith(".parquet")]
    )
    assert n_before >= 8
    catalog.compact_snapshot("t", target_partitions=2)
    # compaction commits a NEW generation directory for the same version
    path_after = catalog.snapshot_dir("t", 1)
    assert path_after != path_before
    assert not os.path.exists(path_before)  # old generation GC'd
    n_after = len([f for f in os.listdir(path_after) if f.endswith(".parquet")])
    assert n_after <= 2
    got = sorted(r.x for r in catalog.read("t").collect())
    assert got == list(range(1000))
    assert catalog.current_version("t") == 1


def test_compact_snapshot_crash_safety(spark, catalog):
    """At every instant the manifest-referenced directory exists; stale
    leftovers from a crashed compaction are swept on the next entry."""
    df = spark.range(100).toDF("x")
    catalog.write_snapshot("t", df, version=1)
    table_root = os.path.dirname(catalog.snapshot_dir("t", 1))
    # simulate a prior compaction that crashed BEFORE the manifest
    # commit (stale staged dir) and legacy '.old' leftovers
    os.makedirs(os.path.join(table_root, "v1.gen7"), exist_ok=True)
    os.makedirs(os.path.join(table_root, "v1.old"), exist_ok=True)
    catalog.compact_snapshot("t", target_partitions=1)
    entries = set(os.listdir(table_root))
    assert "v1.gen7" not in entries and "v1.old" not in entries
    assert os.path.basename(catalog.snapshot_dir("t", 1)) in entries
    assert sorted(r.x for r in catalog.read("t").collect()) == list(range(100))
    # second compaction advances the generation and GCs the previous one
    prev = catalog.snapshot_dir("t", 1)
    catalog.compact_snapshot("t", target_partitions=1)
    assert catalog.snapshot_dir("t", 1) != prev and not os.path.exists(prev)
    assert sorted(r.x for r in catalog.read("t").collect()) == list(range(100))
