"""Benchmark harness — one JSON line for the driver.

Measures (a) the primary metric: a full politeness-scheduled crawl
round (frontier → robots → seen anti-join → politeness select → fetch
join → Arrow extraction → discovery merge → snapshot commit) over a
synthetic world sized by BENCH_HOSTS/BENCH_YACHTS, and (b) headline
battery queries at $SPARK_GRAFT_SF_DIR.

Output: {"metric": ..., "value": total_sec, "unit": "sec",
         "queries": {name: sec, ...}, "sf": ..., "urls_per_sec": ...}

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), BENCH_HOSTS/BENCH_YACHTS (world size),
BENCH_CACHE (fixture parquet cache dir, default /tmp/wss_bench_cache),
BENCH_REPEATS (best-of-N per timed section, default 3: run 1 absorbs
whole-stage-codegen compile for the round plans — every boot shows the
same ~15s -> ~9s first-to-second-run step — so N=3 reports the
steady-state round while crawl_round_all_runs keeps the cold runs
visible).

Each timed section runs BENCH_REPEATS times and reports the MINIMUM —
the serialized best-of-N protocol BENCH/BASELINE.md mandates for this
shared-host VM, applied inside the harness so a single driver
invocation is noise-robust. Measured on the round-3 boot: the same
crawl round on identical input swung 96-202 s across back-to-back
runs (host steal/scheduling jitter, not code — the round-2 engine
commit showed the same swing on the same boot; BENCH/boot_noise_r3
.json), so a single-shot number can misstate wall by 2x.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "politeness_budget",
    "seen_antijoin",
    "url_canonicalize",
    "latest_per_key",
    "price_compare",
    "dedup_exact",
    "dedup_minhash",
    "dedup_lsh_pairs",
    "cosine_topk",
    "dedup_embedding_neardup",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "corpus_clean",
    "dedup_components",
    "source_quality_gate",
    "mixture_sample",
    "line_dedup",
    "span_dedup",
    "pii_scrub",
    "sitemap_parse",
    "warc_roundtrip",
    "robots_wildcard",
    "registrable_domain",
    "text_normalize",
    "lm_perplexity",
    "charset_decode",
    "decontaminate",
    "revisit_schedule",
    "host_pagerank",
    "host_priority_blend",
    "listing_enrich",
    "weekly_periods_mmk",
    "quality_score",
    "token_count",
    "pricing_summary",
    "top_revenue_orders",
    "nation_volume",
    "events_hour_window",
    # round-4 operators
    "content_extract",
    "redirect_resolve",
    "canonical_collapse",
    "anchor_topk",
    "term_postings",
    "hll_distinct",
    "cms_heavy_hitters",
    "hits_scores",
    "bm25_topk",
    "session_windows",
    "bigram_lm_score",
    "link_reciprocity",
    "semdedup_prune",
    "doc_chunk",
    "soft404_detect",
    # round-4 operators (second batch)
    "dust_rules",
    "surt_cdx",
    "focus_scores",
    "c4_filters",
    "gopher_filters",
    # round-4 additions: frontier scoring, state
    "trustrank_scores",
    "opic_scores",
    "budget_allocation",
    "cuckoo_evict",
    # round-5 additions: head-metadata family
    "feed_parse",
    "head_metadata",
    "jsonld_extract",
    "pagination_chains",
    "hreflang_clusters",
    "mirror_hosts",
    "link_header_parse",
    # round-5 additions (second batch): sitemap hints, text signals
    "sitemap_hints",
    "doc_entropy",
    "retry_after_parse",
]


def build_bench_world(spark, n_hosts: int, yachts_each: int, cache_dir: str) -> str:
    """Bench world parquet, cached by size. Generated AS a Spark job
    (bench/genworld.py) so world size scales with the cluster, not the
    driver."""
    from benchkit.genworld import generate_bench_world

    key = f"h{n_hosts}_y{yachts_each}"
    out = os.path.join(cache_dir, key)
    if os.path.exists(os.path.join(out, "_WORLD_DONE")):
        return out
    # resumable per-artifact: page generation and resolve are separate
    # (interrupted builds keep finished artifacts)
    if not os.path.exists(os.path.join(out, "pages.parquet", "_SUCCESS")):
        shutil.rmtree(out, ignore_errors=True)
        generate_bench_world(spark, out, n_hosts, yachts_each)
    # materialize canonical resolve ONCE (ingest-time op): rounds must
    # not re-run the latest-per-url window over the wide html column.
    # The generator emits each URL exactly once → projection path.
    from web_scraper_spark.sources.pages_source import resolve_pages

    # keep the 64-way layout through the resolve write (see genworld:
    # a narrow-session world must not cap later scans' parallelism)
    resolve_pages(
        spark.read.parquet(f"{out}/pages.parquet"), assume_unique=True
    ).repartition(64).write.mode("overwrite").parquet(
        f"{out}/pages_resolved.parquet"
    )
    with open(os.path.join(out, "_WORLD_DONE"), "w") as f:
        f.write("ok")
    return out


def warm_up(spark) -> None:
    """Session warm-up before anything is timed: JVM JIT, Python-worker
    spawn, codegen, and the parquet write path. Without this the FIRST
    timed section (crawl_init_frontier) absorbs session boot — measured
    8.3 s cold vs 1.7-2.0 s warm for the identical job, which round 2
    misread as a +36 % regression."""
    from pyspark.sql import functions as F

    df = spark.range(100_000).select(
        "id", F.col("id").cast("string").alias("s")
    )
    df.repartition(8, "id").groupBy((F.col("id") % 7).alias("k")).count().count()

    def _noop(it):
        yield from it

    df.limit(1000).mapInPandas(_noop, df.schema).count()
    d = tempfile.mkdtemp(prefix="wss_warm_")
    try:
        spark.range(1000).write.mode("overwrite").parquet(d + "/warm")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def run_crawl_round(spark, world_dir: str) -> dict:
    from web_scraper_spark.plans.rounds import CrawlEngine
    from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
    from web_scraper_spark.sources.fixtures import PolitenessSpec

    spec = PolitenessSpec(
        round_seconds=86400,
        global_batch_urls=int(os.environ.get("BENCH_GLOBAL_BUDGET", "2000000")),
        global_pause_s=86400,
    )
    # round state on tmpfs when available: one shared spindle is a
    # single-box artifact (cluster executors write to their own disks),
    # and it caps write throughput identically at every parallelism level
    state_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    state = tempfile.mkdtemp(prefix="wss_bench_state_", dir=state_root)
    try:
        catalog = ParquetSnapshotCatalog(spark, state)
        engine = CrawlEngine(spark, catalog, spec, n_buckets=32)
        seeds = spark.read.parquet(f"{world_dir}/seeds.parquet")
        robots = spark.read.parquet(f"{world_dir}/robots.parquet")
        pages = spark.read.parquet(f"{world_dir}/pages_resolved.parquet")

        t0 = time.monotonic()
        engine.init_frontier(seeds, "2025-04-12", "2025-10-25")
        init_s = time.monotonic() - t0

        t1 = time.monotonic()
        stats = engine.run_round(1, pages, robots, seeds)
        round_s = time.monotonic() - t1
        return {
            "init_sec": round(init_s, 3),
            "round_sec": round(round_s, 3),
            "selected": stats["selected"],
            "success": stats["success"],
            "urls_per_sec": round(stats["selected"] / round_s, 1) if round_s else 0.0,
            # the round's ~parallelism-independent tail (snapshot
            # commit): lets the scaling harness separate the Amdahl
            # serial section from the data-proportional stages
            "frontier_write_sec": stats.get("frontier_write_seconds"),
            "sections": stats.get("sections"),
        }
    finally:
        shutil.rmtree(state, ignore_errors=True)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_hosts = int(os.environ.get("BENCH_HOSTS", "120"))
    yachts = int(os.environ.get("BENCH_YACHTS", "8"))
    cache = os.environ.get("BENCH_CACHE", "/tmp/wss_bench_cache")
    os.makedirs(cache, exist_ok=True)

    from web_scraper_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=cpus, app_name="wss-bench"
    )

    repeats = max(1, int(os.environ.get("BENCH_REPEATS", "3")))
    timings: dict[str, float] = {}

    def _calibrate() -> float | None:
        # Spark-free host-speed stamp (same fixed regex work as
        # benchkit/cpu_calibrate.py). Taken BEFORE and AFTER the timed
        # section because the shared host swings ~2x within minutes
        # (measured 256k -> 145k -> 285k pages/s over one morning);
        # the pair brackets the window the queries actually ran in.
        try:
            from benchkit.cpu_calibrate import run_level

            pages = 48_000
            return round(pages / min(run_level(cpus, pages) for _ in range(2)), 1)
        except Exception:
            return None

    def _cpu_snap() -> list[int] | None:
        # aggregate jiffies: user nice system idle iowait irq softirq steal
        try:
            with open("/proc/stat") as fh:
                return [int(x) for x in fh.readline().split()[1:9]]
        except Exception:
            return None

    calib_pre = _calibrate()
    cpu0 = _cpu_snap()
    total0 = time.monotonic()

    world_dir = build_bench_world(spark, n_hosts, yachts, cache)
    warm_up(spark)
    crawls = [run_crawl_round(spark, world_dir) for _ in range(repeats)]
    crawl = min(crawls, key=lambda c: c["round_sec"])
    timings["crawl_round"] = crawl["round_sec"]
    timings["crawl_init_frontier"] = min(c["init_sec"] for c in crawls)

    qs = entry_mod.queries()
    for name in HEADLINE:
        fn = qs[name]
        best = None
        for _ in range(repeats):
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            n = df.count()  # materialize fully
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    total = round(time.monotonic() - total0, 3)
    # round-over-round comparability: the headline set GROWS as operators
    # land, so `value` is not comparable across rounds by itself. This is
    # the sum over exactly the round-1 query set.
    r1_set = {
        "crawl_round", "crawl_init_frontier", "politeness_budget",
        "seen_antijoin", "url_canonicalize", "latest_per_key",
        "price_compare", "dedup_exact", "dedup_minhash", "dedup_lsh_pairs",
        "cosine_topk", "quality_score", "token_count", "pricing_summary",
        "top_revenue_orders", "nation_volume", "events_hour_window",
    }
    comparable = round(sum(v for k, v in timings.items() if k in r1_set), 3)
    out = {
        "metric": "crawl_round_plus_headline_queries_wall",
        "value": total,
        "value_comparable_r1": comparable,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "urls_per_sec": crawl["urls_per_sec"],
        "crawl_selected": crawl["selected"],
        "crawl_success": crawl["success"],
        "cpus": cpus,
        "bench_world": f"{n_hosts} hosts x {yachts} yachts",
        "repeats": repeats,
        "crawl_round_all_runs": [c["round_sec"] for c in crawls],
    }
    out["calib_pages_per_sec_pre"] = calib_pre
    out["calib_pages_per_sec_post"] = _calibrate()
    out["calib_procs"] = cpus
    # guest-visible hypervisor contention ACROSS the timed section —
    # the idle-box calibration above cannot see steal that only
    # appears under load. steal_pct is the share of all jiffies the
    # host withheld while the queries ran; iowait_pct the share spent
    # blocked on the virtio disk.
    cpu1 = _cpu_snap()
    if cpu0 and cpu1:
        d = [b - a for a, b in zip(cpu0, cpu1)]
        tot = sum(d) or 1
        out["steal_pct"] = round(100.0 * d[7] / tot, 2)
        out["iowait_pct"] = round(100.0 * d[4] / tot, 2)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
