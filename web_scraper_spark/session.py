"""SparkSession factory with scale-oriented defaults.

Designed for a 1000-executor cluster reading ~100 TB, tested on
``local[N]``: AQE on (runtime re-plan + skew-join splitting), Arrow
enabled for the few vectorized-UDF stages, shuffle partitions sized by
cores (overridable per deployment), dynamic partition overwrite for the
idempotent round commits.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]

# Spark keeps the classes it generates in one JVM-wide cache of
# ``spark.sql.codegen.cache.maxEntries`` (default 100), evicting the
# least recently used. A crawl round generates 90-125 classes, so at the
# default each round evicts the classes the next round would reuse and
# recompiles nearly all of them. 2,000 holds a merge-on-read delta round
# and a compaction round together; what a repeated round still compiles
# are the classes that inline its round id as a literal. Janino compiles
# per round of a 4-round crawl of the test world compacting every 2nd
# round (local[2], 4 vCPU): 107/123/84/120 at the default, 107/64/26/25
# at 2,000 (tests/test_codegen_cache.py). A static conf: it takes effect
# only when the JVM's first session starts.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "web_scraper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the core count — on a real cluster
    this is set to 2-3x total cores (or left to AQE coalescing).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- AQE: runtime plan fixes (partition coalescing, skew splits) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # deterministic time semantics (matches DuckDB's naive-UTC reads)
        .config("spark.sql.session.timeZone", "UTC")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # The politeness stage guards its per-host window with a literal
        # rank cap of round_seconds (operators/politeness.py) so the
        # map-side PARTIAL WindowGroupLimit fires and a hot host never
        # shuffles its full frontier volume. The default threshold (1000)
        # would silently disable the rewrite for round_seconds > 1000 —
        # the partial pass is a streaming rank filter, so a larger cap
        # costs nothing.
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "10000000")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Input splits size the task count of map stages that follow a
        # scan (the Arrow extraction stage inherits them — with wide
        # compressed html, 128 MiB splits starve a 32-core box). 32 MiB
        # keeps splits ≳ 2x cores at local volumes; on a 1000-executor
        # cluster the standard 128 MiB is restored via env.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)),
        )
        # zstd: ~3x smaller text/html columns than snappy — trades
        # single-box disk bandwidth (does not scale with cores) for
        # compression CPU (does)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Wide binary rows (html ~20 KB) need small columnar batches:
        # 32 tasks x 4096-row reader batches x 20 KB = OOM on a 12g heap.
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # --- Arrow for the pandas-UDF stages (extraction); batched, not per-row ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048 rows x ~20 KB html ≈ 40 MB per batch — bounded worker memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # --- idempotent round commits: overwrite only the partitions present ---
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # --- broadcast small dims (robots, seeds, politeness params) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # quieter local runs
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # local mode = one JVM for driver+executors. 12g measured fastest
        # on this VM: a 48g heap made 32-core runs 10-20x slower (kernel
        # page-fault storms during young-gen growth — sys-time bound,
        # user CPU idle). Enough for ~1 GiB wide-column shuffles.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
