"""Dev smoke: build fixture world, run oracle + engine 3 rounds, diff.

Exits 1 when any parity check fails or the final frontier holds more
than one row for a (url_hash, url) key.
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import functions as F

from web_scraper_spark.oracle.crawler import OracleCrawler
from web_scraper_spark.plans.rounds import CrawlEngine
from web_scraper_spark.session import get_spark
from web_scraper_spark.sources.catalog import ParquetSnapshotCatalog
from web_scraper_spark.sources.fixtures import FixtureConfig, build_world
from web_scraper_spark.sources.pages_source import resolve_pages, write_world_parquet


def main(n_rounds: int = 3) -> int:
    cfg = FixtureConfig()
    world = build_world(cfg)
    print(f"world: {len(world.tasks)} tasks, {len(world.pages)} pages")

    oracle = OracleCrawler(world, cfg.politeness)
    o_stats = oracle.run(n_rounds)
    for s in o_stats:
        print("oracle:", s)

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    tmp = tempfile.mkdtemp(prefix="wss_smoke_")
    paths = write_world_parquet(world, tmp + "/world")
    catalog = ParquetSnapshotCatalog(spark, tmp + "/state")
    engine = CrawlEngine(spark, catalog, cfg.politeness)

    seeds = spark.read.parquet(paths["seeds"])
    robots = spark.read.parquet(paths["robots"])
    pages = resolve_pages(spark.read.parquet(paths["pages"]))

    engine.init_frontier(seeds, cfg.period_start, cfg.period_end)

    # frontier bootstrap parity
    f0 = engine._read_frontier(0)
    eng_urls = {r.url for r in f0.select("url").collect()}
    ora_urls = set(OracleCrawler(world, cfg.politeness).frontier.keys())
    print("frontier init equal:", eng_urls == ora_urls,
          len(eng_urls), len(ora_urls))
    if eng_urls != ora_urls:
        print("only engine:", list(eng_urls - ora_urls)[:3])
        print("only oracle:", list(ora_urls - eng_urls)[:3])
        return 1

    stats = engine.run(n_rounds, pages, robots, seeds)
    for s in stats:
        print("engine:", {k: v for k, v in s.items() if k != "status"})

    # --- parity checks ---
    # read through the engine, which derives the url_hash the tables do
    # not store
    frontier = engine._read_frontier(n_rounds)
    # the invariant the round's URL-seen handling rests on: one frontier
    # row per (url_hash, url), so pending candidates never overlap the
    # fetched (seen) set
    dup_keys = (
        frontier.groupBy("url_hash", "url").count().filter(F.col("count") > 1).count()
    )
    keys_unique = dup_keys == 0
    print("frontier keys unique:", keys_unique, dup_keys)
    eng_seen = {r.url for r in frontier.filter("state='fetched'").select("url").collect()}
    print("seen equal:", eng_seen == oracle.seen, len(eng_seen), len(oracle.seen))
    if eng_seen != oracle.seen:
        print("only engine:", sorted(eng_seen - oracle.seen)[:5])
        print("only oracle:", sorted(oracle.seen - eng_seen)[:5])

    log = catalog.read_log("fetch_log").filter(F.col("status") != "robots")
    rows = log.orderBy(
        "host", "round_id", "depth", "discovery_round", "seed_rank",
        "yacht_rank", "period_idx", "url"
    ).select("host", "url").collect()
    eng_order: dict[str, list[str]] = {}
    for r in rows:
        eng_order.setdefault(r.host, []).append(r.url)
    ok = eng_order == oracle.order_per_host
    print("per-host order equal:", ok)
    if not ok:
        for h in oracle.order_per_host:
            if eng_order.get(h) != oracle.order_per_host[h]:
                print("host", h)
                print(" engine:", eng_order.get(h, [])[:5])
                print(" oracle:", oracle.order_per_host[h][:5])
                break

    # extraction text byte-parity vs oracle and vs golden pages.text
    ext = catalog.read_log("extractions").select("url", "text").collect()
    eng_text = {r.url: r.text for r in ext}
    ora_text = {u: e["text"] for u, e in oracle.extractions.items()}
    print("extraction text equal:", eng_text == ora_text, len(eng_text), len(ora_text))
    if eng_text != ora_text:
        for u in list(ora_text)[:2000]:
            if eng_text.get(u) != ora_text[u]:
                print("first diff url:", u)
                print(" engine:", repr(eng_text.get(u))[:200])
                print(" oracle:", repr(ora_text[u])[:200])
                break

    parity = eng_seen == oracle.seen and ok and eng_text == ora_text
    return 0 if (keys_unique and parity) else 1


if __name__ == "__main__":
    sys.exit(main(int(sys.argv[1]) if len(sys.argv) > 1 else 3))
