"""Multi-round steady-state bench at a 10^7-row frontier.

SURVEY §7.1 M4's local stand-in: does the PER-ROUND cost stay
budget-proportional while the frontier (10M rows) and the seen set
(growing by ~budget per round) dwarf the per-round selection? The
killers this catches: frontier-proportional politeness work, snapshot
writes that grow with history.

Reported per round: wall, selected, seen_total, frontier write cost,
urls/sec — plus the frontier-growth curve. Writes BENCH/steady_state_10m.json.

    python benchkit/steady_state.py --hosts 5000 --yachts 72 --rounds 3
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--hosts", type=int, default=5000)
    ap.add_argument("--yachts", type=int, default=72)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--budget", type=int, default=500_000)
    ap.add_argument("--cache", default="/tmp/wss_bench_cache")
    ap.add_argument("--out", default="BENCH/steady_state_10m.json")
    ap.add_argument("--compact-every", type=int, default=1)
    args = ap.parse_args()

    from benchkit.genworld import generate_bench_world
    from web_scraper_spark.plans.rounds import CrawlEngine
    from web_scraper_spark.session import get_spark
    from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
    from web_scraper_spark.sources.fixtures import PolitenessSpec
    from web_scraper_spark.sources.pages_source import resolve_pages

    spark = get_spark(
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        app_name="wss-steady",
    )

    key = f"h{args.hosts}_y{args.yachts}_light"
    world = os.path.join(args.cache, key)
    if not os.path.exists(os.path.join(world, "_WORLD_DONE")):
        shutil.rmtree(world, ignore_errors=True)
        t0 = time.monotonic()
        generate_bench_world(
            spark, world, args.hosts, args.yachts, page_weight="light"
        )
        resolve_pages(
            spark.read.parquet(f"{world}/pages.parquet"), assume_unique=True
        ).write.mode("overwrite").parquet(f"{world}/pages_resolved.parquet")
        print(f"world gen: {time.monotonic() - t0:.0f}s", file=sys.stderr)
        with open(os.path.join(world, "_WORLD_DONE"), "w") as f:
            f.write("ok")

    spec = PolitenessSpec(
        round_seconds=86400,
        global_batch_urls=args.budget,
        global_pause_s=86400,
    )
    state = tempfile.mkdtemp(prefix="wss_steady_", dir="/dev/shm")
    try:
        catalog = ParquetSnapshotCatalog(spark, state)
        # retention 2: a long steady-state crawl must not hoard every
        # compacted frontier snapshot — and expiry cost is part of the round
        engine = CrawlEngine(
            spark, catalog, spec, n_buckets=args.cpus, snapshot_retention=2,
            mor_compact_every=args.compact_every,
        )
        seeds = spark.read.parquet(f"{world}/seeds.parquet")
        robots = spark.read.parquet(f"{world}/robots.parquet")
        pages = spark.read.parquet(f"{world}/pages_resolved.parquet")

        t0 = time.monotonic()
        engine.init_frontier(seeds, "2025-04-12", "2025-10-25")
        init_s = time.monotonic() - t0
        frontier_rows = catalog.read("frontier", version=0).count()

        rounds = []
        for r in range(1, args.rounds + 1):
            stats = engine.run_round(r, pages, robots, seeds)
            n_frontier = engine._read_frontier(r).count()
            rounds.append(
                {
                    "round_id": r,
                    "selected": stats["selected"],
                    "success": stats["success"],
                    "seen_total": stats["seen_total"],
                    "frontier_rows": n_frontier,
                    "wall_seconds": round(stats["wall_seconds"], 1),
                    "frontier_write_seconds": stats["frontier_write_seconds"],
                    "urls_per_sec": round(
                        stats["selected"] / stats["wall_seconds"], 1
                    ),
                }
            )
            print(json.dumps(rounds[-1]), file=sys.stderr)

        out = {
            "config": (
                f"{args.hosts} hosts x {args.yachts} yachts x 28 periods "
                f"({frontier_rows} frontier rows), {args.budget} budget/round, "
                f"local[{args.cpus}], light pages, state on /dev/shm, "
                f"frontier compacted every {args.compact_every} round(s)"
            ),
            "init_frontier_seconds": round(init_s, 1),
            "rounds": rounds,
            "note": (
                "steady state at 10^7 frontier: per-round wall must track the "
                "budget, not the frontier/seen size — every "
                f"{args.compact_every} round(s) the frontier is compacted into "
                "a full bucketed snapshot (retention-2 expiry); rounds in "
                "between write merge-on-read row deltas (budget-proportional)"
            ),
        }
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps(out["rounds"]))
    finally:
        shutil.rmtree(state, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
