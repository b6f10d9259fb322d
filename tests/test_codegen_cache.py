"""The session's generated-code cache holds a crawl round's classes.

Spark caches generated classes JVM-wide and evicts the least recently
used; at its default size one round evicts the classes the next round
would reuse. In a merge-on-read crawl compacting every second round,
round 4 runs round 2's plans again, so with a cache that holds them it
compiles only the classes whose inlined literals (the round id) differ.

The cache is shared by every session of a JVM and outlives them, so the
crawl runs in a fresh Python process with its own JVM: run in the test
session, earlier tests would already have filled the cache.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

N_ROUNDS = 4


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (every compile, no cache hit,
    records one compilation time)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def compiles_per_round(tmp: str) -> dict[int, int]:
    """Classes compiled by each round of a 4-round merge-on-read crawl
    (``mor_compact_every=2``) in a new local session."""
    from web_scraper_spark.plans.rounds import CrawlEngine
    from web_scraper_spark.session import get_spark
    from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
    from web_scraper_spark.sources.fixtures import build_world
    from web_scraper_spark.sources.pages_source import write_world_parquet
    from tests.conftest import ingest_pages, small_config

    spark = get_spark(
        master="local[2]", shuffle_partitions=2, app_name="wss-codegen",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        cfg = small_config()
        paths = write_world_parquet(build_world(cfg), tmp + "/world")
        seeds = spark.read.parquet(paths["seeds"])
        robots = spark.read.parquet(paths["robots"])
        pages = ingest_pages(spark, paths, tmp)
        engine = CrawlEngine(
            spark, ParquetSnapshotCatalog(spark, tmp + "/state"), cfg.politeness,
            n_buckets=8, mor_compact_every=2,
        )
        engine.init_frontier(seeds, cfg.period_start, cfg.period_end)
        out = {}
        for r in range(1, N_ROUNDS + 1):
            before = _compiles(spark)
            engine.run_round(r, pages, robots, seeds)
            out[r] = _compiles(spark) - before
        return out
    finally:
        spark.stop()


def test_repeated_round_reuses_generated_classes():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tempfile.mkdtemp(prefix="wss_codegen_")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    try:
        proc = subprocess.run(
            [sys.executable, "-m", "tests.test_codegen_cache", tmp],
            cwd=root, env=env, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        counts = {int(k): v for k, v in json.loads(proc.stdout.splitlines()[-1]).items()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # round 2 is the crawl's first compaction; round 4 repeats its plans
    assert counts[2] > 0, counts
    assert counts[4] * 2 <= counts[2], counts


if __name__ == "__main__":
    print(json.dumps(compiles_per_round(sys.argv[1])))
