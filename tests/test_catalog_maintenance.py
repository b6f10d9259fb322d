"""Catalog maintenance: snapshot expiration + small-file compaction
(the Iceberg expire_snapshots / rewrite_data_files actions a long crawl
needs — every round is a copy-on-write snapshot), and the schemas the
catalog records so its reads skip parquet schema inference."""

from __future__ import annotations

import itertools
import json
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
    from web_scraper_spark.sources.pages_source import write_world_parquet
    from tests.conftest import ingest_pages

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
        pages = ingest_pages(spark, paths, tmp)
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


_probe_ids = itertools.count()


def _jobs_started_by(spark, action) -> int:
    """Spark jobs ``action`` starts (the listener bus is drained before
    the status tracker is asked)."""
    sc = spark.sparkContext
    group = f"wss_probe_{next(_probe_ids)}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _forget_schemas(catalog, name):
    """Rewrite a manifest as a catalog without recorded schemas left it."""
    path = catalog._manifest_path(name)
    with open(path) as f:
        manifest = json.load(f)
    manifest.pop("schema", None)
    manifest.pop("schemas", None)
    with open(path, "w") as f:
        json.dump(manifest, f)


def test_recorded_schemas_read_without_inference(spark, catalog):
    log = spark.range(40).select(
        "id",
        F.array(F.col("id").cast("string")).alias("links"),
        F.lit(3).alias("round_id"),
    )
    catalog.write_round_partition("log", log)
    catalog.write_snapshot("snap", log.drop("round_id"), version=1)
    data = catalog.append_dir("log")
    inferred = {
        "log": spark.read.option("basePath", data).parquet(data).schema,
        "snap": spark.read.parquet(catalog.snapshot_dir("snap", 1)).schema,
    }
    reads = {"log": lambda: catalog.read_log("log"), "snap": lambda: catalog.read("snap")}
    for name, read in reads.items():
        assert read().schema == inferred[name], name
        assert _jobs_started_by(spark, read) == 0, name
    # a table written before schemas were recorded still reads, by
    # inference (which is the job the recorded schema saves)
    for name, read in reads.items():
        _forget_schemas(catalog, name)
        assert read().schema == inferred[name], name
        assert _jobs_started_by(spark, read) > 0, name
    assert sorted(r.id for r in catalog.read_log("log").collect()) == list(range(40))


def test_recorded_schema_follows_each_snapshot_version(spark, catalog):
    catalog.write_snapshot("t", spark.range(5).toDF("x"), version=1)
    catalog.write_snapshot(
        "t", spark.range(5).select("id", F.lit("a").alias("y")), version=2
    )
    assert catalog.read("t", version=1).columns == ["x"]
    assert catalog.read("t").columns == ["id", "y"]
    catalog.expire_snapshots("t", keep_last=1)
    with open(catalog._manifest_path("t")) as f:
        assert list(json.load(f)["schemas"]) == ["2"]


def test_observed_empty_round_partition_reads_as_no_rows(spark, catalog):
    """An empty observed frame written through the rebalance: AQE swaps
    the empty shuffle stage, which holds the observation, for an empty
    relation, so Spark never reports the metrics and
    ``Observation.get`` raises. The round reads such an observation as
    no rows, as it would have counted them."""
    from pyspark.sql import Observation

    from web_scraper_spark.plans.rounds import _observed

    obs = Observation("empty_round_partition")
    empty = spark.range(8).filter("id < 0").select(F.lit(1).alias("round_id"), "id")
    catalog.write_round_partition(
        "log", empty.unionByName(empty).observe(obs, F.count(F.lit(1)).alias("n"))
    )
    assert _observed(obs).get("n", 0) == 0
